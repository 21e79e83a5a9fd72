package graft.index

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

import graft.model.{DocRow, PostingsRow}
import graft.search.Bm25Stats

/** A queryable view of an index: the contract the search paths
  * (Searcher, RelationalPath, IndexTermDict, CheckIndex) depend on —
  * satisfied by a single committed directory (InvertedIndex) or a union
  * of streamed generations (GenerationalIndex). */
trait IndexView {
  def spark: SparkSession
  def stats: Bm25Stats
  def postings: Dataset[PostingsRow]
  def docs: Dataset[DocRow]
  def termStats: DataFrame
  /** Tombstoned docIds (live-docs complement); default: none. */
  def hasDeletes: Boolean = false
  def tombstones: Dataset[java.lang.Long] =
    spark.emptyDataset(org.apache.spark.sql.Encoders.LONG)
}

/** Read handle over a committed index directory (manifest.json present).
  * The IndexSearcher-side analogue of a Lucene `DirectoryReader` over a
  * `segments_N` commit point [U lucene/core/.../index/SegmentInfos.java,
  * DirectoryReader]. */
final class InvertedIndex(val spark: SparkSession, val dir: String) extends IndexView {
  import spark.implicits._

  val manifest: String =
    new String(Files.readAllBytes(Paths.get(dir, "manifest.json")))

  /** Collection stats from the manifest — no job needed at query time. */
  val stats: Bm25Stats = {
    val m = graft.util.Json.obj(graft.util.Json.parse(manifest))
    Bm25Stats(graft.util.Json.long(m("docCount")),
      graft.util.Json.long(m("sumTotalTermFreq")))
  }

  @volatile private var cached
      : Option[(Dataset[PostingsRow], Dataset[DocRow], DataFrame)] = None

  def postings: Dataset[PostingsRow] = cached.map(_._1)
    .getOrElse(spark.read.parquet(s"$dir/postings").as[PostingsRow])

  /** DocRow columns of the docs table (the stored `text` field is
    * explicitly pruned — readers that want it use `storedFields`). */
  private def docRowCols(df: DataFrame): Dataset[DocRow] =
    df.select("segId", "docId", "url", "lang", "dl", "norm", "dlq", "ts")
      .as[DocRow]

  def docs: Dataset[DocRow] = cached.map(_._2)
    .getOrElse(docRowCols(spark.read.parquet(s"$dir/docs")))

  /** Stored fields (docId, url, text) — the .fdt analogue; the text
    * column lives in the docs parquet but is column-pruned away from
    * every scoring path. */
  def storedFields: DataFrame =
    spark.read.parquet(s"$dir/docs").select("docId", "url", "text")

  def termStats: DataFrame = cached.map(_._3)
    .getOrElse(spark.read.parquet(s"$dir/termstats"))

  def lineage: DataFrame = spark.read.parquet(s"$dir/lineage")

  /** Generation this reader opened at. */
  val generation: Long = {
    val m = graft.util.Json.obj(graft.util.Json.parse(manifest))
    m.get("generation").map(graft.util.Json.long).getOrElse(1L)
  }

  /** Current on-disk generation (one tiny driver file read) — drifts
    * past `generation` when `Deletes.compact` rewrites the directory
    * IN PLACE under this open reader. */
  def diskGeneration: Long = {
    val m = graft.util.Json.obj(graft.util.Json.parse(
      new String(Files.readAllBytes(Paths.get(dir, "manifest.json")))))
    m.get("generation").map(graft.util.Json.long).getOrElse(1L)
  }

  /** Fresh reader if the directory moved to a new generation
    * (DirectoryReader.openIfChanged). */
  def reopenIfChanged(): InvertedIndex =
    if (diskGeneration != generation) new InvertedIndex(spark, dir) else this

  /** Per-segment docId ranges (driver-side, O(numSegments)) — the
    * SegmentInfos the early-terminating sorted read plans against.
    * Keyed on the on-disk generation: an in-place compaction under a
    * live reader must NOT leave the dense-prefix consumers (MatchAll
    * docId-cutoff, early-terminating sorted reads) planning against
    * pre-compaction ranges — they would silently drop the live docs
    * that now sit past the stale dense window. The refreshed table
    * shows the sparse post-compaction ranges, so those consumers fall
    * back to the full scan. */
  @volatile private var segInfos
      : Option[(Long, Array[graft.model.SegmentInfo])] = None
  def segments: Array[graft.model.SegmentInfo] = {
    val gen = diskGeneration
    if (!segInfos.exists(_._1 == gen))
      segInfos = Some((gen, spark.read.parquet(s"$dir/segments")
        .as[graft.model.SegmentInfo].collect().sortBy(_.segId)))
    segInfos.get._2
  }

  /** Whether every segment's docIds form a gap-free range — the
    * precondition for dense-prefix reads (MatchAll docId-cutoff,
    * early-terminating sorted top-k). False after a compaction has
    * punched holes into the docId space. */
  def segmentsDense: Boolean =
    segments.forall(s => s.nDocs == s.maxDocId - s.minDocId + 1)

  override def hasDeletes: Boolean = Deletes.hasTombstones(dir)
  override def tombstones: Dataset[java.lang.Long] = Deletes.tombstones(spark, dir)

  /** Driver-side term dictionary cache for serving mode: loaded once
    * when the dictionary is small enough (it is on test corpora; a
    * web-scale deployment keeps the hot slice). Saves one Spark job per
    * query (the stats lookup). */
  @volatile private var statsMap: Option[Map[String, Long]] = None
  @volatile private var statsOverCap: Boolean = false
  def termDfMap(maxTerms: Int = 1 << 20): Option[Map[String, Long]] = {
    // memoize the over-cap outcome too — without it every query on a
    // big index re-collects maxTerms+1 dictionary rows
    if (statsMap.isEmpty && !statsOverCap) {
      val rows = termStats.select("term", "df").limit(maxTerms + 1).collect()
      if (rows.length <= maxTerms)
        statsMap = Some(rows.map(r => r.getString(0) -> r.getLong(1)).toMap)
      else statsOverCap = true
    }
    statsMap
  }

  /** Driver-side stored-fields cache for serving mode: docId → url,
    * loaded on demand when the docs table is small enough. Saves the
    * GET_FIELDS job per query (a web-scale deployment fronts this with
    * a key-value store or keeps the hot slice). */
  @volatile private var urlsMap: Option[Map[Long, String]] = None
  def urlMap(maxDocs: Long = 1L << 20): Option[Map[Long, String]] = {
    if (urlsMap.isEmpty && stats.docCount <= maxDocs) {
      val rows = docs.select("docId", "url").collect()
      urlsMap = Some(rows.map(r => r.getLong(0) -> r.getString(1)).toMap)
    }
    urlsMap
  }

  /** The url cache if warm() loaded it — never triggers a job. */
  def urlMapIfLoaded: Option[Map[Long, String]] = urlsMap

  /** The stored-fields (url) cache as a REUSABLE broadcast — one ship
    * per searcher lifetime, not one per query; lets serving kernels
    * recover the corpus doc_id inside the scoring pass without a docs
    * join. */
  @volatile private var urlBc: Option[org.apache.spark.broadcast.Broadcast[Map[Long, String]]] = None
  def urlBroadcast(maxDocs: Long = 1L << 20): Option[org.apache.spark.broadcast.Broadcast[Map[Long, String]]] = {
    if (urlBc.isEmpty)
      urlMap(maxDocs).foreach(m => urlBc = Some(spark.sparkContext.broadcast(m)))
    urlBc
  }

  /** Filter cache — the Solr filterCache / getDocSet analogue
    * [U solr/core/src/java/org/apache/solr/search/SolrIndexSearcher.java
    * filterCache]: the docId set of a non-scoring attribute predicate
    * is computed ONCE and reused by every query carrying the same
    * filter, replacing the per-query docs-table scan + cogroup with a
    * broadcast bitmap. Single-JVM serving keeps one global bitmap
    * (docCount bits — 5 KB per cached filter at 40 k docs); a cluster
    * deployment holds the same cache as per-segment slices pinned on
    * the executors (the per-searcher cache of the reference). */
  private val filterBitsets =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.BitSet]()

  /** Cache is live only in warm serving mode with int-addressable
    * docIds (a cold/batch path never pays the collect). */
  def filterCacheEnabled: Boolean =
    cached.nonEmpty && segments.nonEmpty &&
      segments.last.maxDocId < Int.MaxValue.toLong

  def filterCache(key: String)(build: => java.util.BitSet): java.util.BitSet =
    filterBitsets.computeIfAbsent(key, _ => build)

  /** Pin the segment tables in executor memory and materialize them —
    * the analogue of a warm MMapDirectory in the reference's "warm
    * searcher" serving mode (norms need no separate preload: every
    * posting carries its doc's norm byte). Opt-in: at full corpus
    * scale you warm only the hot working set, so nothing in the query
    * path REQUIRES this. */
  def warm(): InvertedIndex = {
    if (cached.isEmpty) {
      val p = spark.read.parquet(s"$dir/postings").as[PostingsRow].persist()
      val d = docRowCols(spark.read.parquet(s"$dir/docs")).persist()
      val t = spark.read.parquet(s"$dir/termstats").persist()
      p.count(); d.count(); t.count()
      cached = Some((p, d, t))
      urlMap() // serving mode: stored-fields lookup without a job
    }
    this
  }

  /** Unpin what `warm()` persisted. A reader opened later on this
    * directory plans the same parquet paths, so Spark's cache manager
    * would serve it these tables — stale once `Deletes.compact` has
    * rewritten the directory in place. */
  private[index] def release(): Unit = {
    cached.foreach { case (p, d, t) =>
      Seq(p, d, t).foreach(_.unpersist(blocking = true))
    }
    cached = None
  }
}

object InvertedIndex {
  def open(spark: SparkSession, dir: String): InvertedIndex = {
    require(Files.exists(Paths.get(dir, "manifest.json")),
      s"no committed index at $dir (manifest.json missing)")
    new InvertedIndex(spark, dir)
  }
}
