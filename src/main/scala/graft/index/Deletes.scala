package graft.index

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Delete-by-term / delete-by-key tombstones + compaction — the
  * analogue of the reference's live-docs bitsets and merge-time
  * reclamation [U lucene/core/.../index/PendingDeletes.java, the `.liv`
  * files, IndexWriter#deleteDocuments; SURVEY.md §2.3].
  *
  * Tombstones are an append-only parquet of deleted docIds next to the
  * index; queries subtract them INSIDE the per-segment scorer (so a
  * deleted doc never occupies a top-k slot) and the relational path
  * anti-joins them. `compact` rewrites postings/docs dropping deleted
  * docs (docIds stay stable, as in a Lucene merge without renumbering
  * — renumbering would invalidate nothing here but is unnecessary). */
object Deletes {

  def tombstonePath(dir: String): String = s"$dir/tombstones"

  def hasTombstones(dir: String): Boolean =
    Files.exists(Paths.get(tombstonePath(dir), "_SUCCESS"))

  /** Current tombstoned docIds (empty if none). */
  def tombstones(spark: SparkSession, dir: String): Dataset[java.lang.Long] = {
    import spark.implicits._
    if (!hasTombstones(dir)) spark.emptyDataset[java.lang.Long]
    else spark.read.parquet(tombstonePath(dir)).select("docId")
      .as[java.lang.Long]
  }

  /** Tombstone docs by unique key (url) — the reference's
    * deleteDocuments(term on the uniqueKey field). Appends. */
  def deleteByUrl(idx: InvertedIndex, urls: Seq[String]): Unit = {
    val doomed = idx.docs.filter(col("url").isin(urls: _*)).select("docId")
    doomed.write.mode("append").parquet(tombstonePath(idx.dir))
  }

  /** Tombstone every doc matching an arbitrary docs-table predicate
    * (delete-by-query). */
  def deleteWhere(idx: InvertedIndex, pred: org.apache.spark.sql.Column): Unit =
    idx.docs.filter(pred).select("docId")
      .write.mode("append").parquet(tombstonePath(idx.dir))

  /** TTL expiration: tombstone every doc with warc_ts older than the
    * cutoff — the DocExpirationUpdateProcessor analogue
    * [U solr/core/.../update/processor/DocExpirationUpdateProcessorFactory].
    * Pair with `compact` to reclaim. */
  def expire(idx: InvertedIndex, olderThan: java.sql.Timestamp): Unit =
    deleteWhere(idx, col("ts") < olderThan)

  /** Rewrite the index dropping tombstoned docs: postings are exploded
    * to occurrences, ANTI-JOINED against the tombstone table (fully
    * distributed — the tombstone set is never collected to the driver,
    * so %-scale deletes of a web corpus stream through a shuffle
    * instead of OOMing a broadcast), then regrouped and re-blocked with
    * the primary build's block layout; docs rows dropped the same way;
    * stats recomputed; manifest generation bumped; tombstones cleared;
    * the old reader's warm tables released. A merge-policy compaction
    * in one pass. */
  def compact(idx: InvertedIndex): InvertedIndex = {
    val spark = idx.spark
    import spark.implicits._
    val dir = idx.dir
    if (!hasTombstones(dir)) return idx

    val tomb = tombstones(spark, dir).toDF("docId")

    // raw parquet (not idx.docs): the stored text column must survive
    // compaction with the rest of the row
    val newDocs = spark.read.parquet(s"$dir/docs")
      .join(tomb, Seq("docId"), "left_anti")
    val stats = newDocs.agg(count(lit(1)), sum("dl").cast("long"))
      .as[(Long, Long)].head()
    val bm = graft.search.Bm25Stats(stats._1, stats._2)
    val bcStats = spark.sparkContext.broadcast(bm)
    val blockSize = graft.util.Json.obj(graft.util.Json.parse(idx.manifest))
      .get("config").map(c => graft.util.Json.long(graft.util.Json.obj(c)("blockSize")).toInt)
      .getOrElse(128)

    val occurrences = idx.postings.flatMap { r =>
      r.blocks.iterator.flatMap { b =>
        val docs = graft.util.PFor.decodeDeltas(b.docs, b.count, b.firstDocId)
        val tfs = graft.util.PFor.decodeInts(b.tfs, b.count)
        val pos = graft.util.VarInt.decodePositions(b.positions, tfs)
        docs.indices.iterator.map(i =>
          (r.segId, r.term, r.salt, docs(i), tfs(i), b.norms(i), pos(i)))
      }
    }.toDF("segId", "term", "salt", "docId", "tf", "norm", "pos")

    val newPostings = occurrences
      .join(tomb, Seq("docId"), "left_anti")
      .repartition(col("segId"), col("term"), col("salt"))
      .sortWithinPartitions("segId", "term", "salt", "docId")
      .select("segId", "term", "salt", "docId", "tf", "norm", "pos")
      .as[(Int, String, Int, Long, Int, Byte, Array[Int])]
      .mapPartitions { it =>
        // streaming regroup: input sorted by (segId, term, salt, docId)
        val in = it.buffered
        new Iterator[graft.model.PostingsRow] {
          def hasNext: Boolean = in.hasNext
          def next(): graft.model.PostingsRow = {
            val head = in.head
            val key = (head._1, head._2, head._3)
            val group = scala.collection.mutable.ArrayBuffer
              .empty[(Long, Int, Byte, Array[Int])]
            while (in.hasNext && (in.head._1, in.head._2, in.head._3) == key) {
              val r = in.next()
              group += ((r._4, r._5, r._6, r._7))
            }
            IndexBuilder.reblock(key._1, key._2, key._3, group.toSeq,
              bcStats.value, blockSize)
          }
        }
      }

    // write compacted tables to new dirs, then swap via manifest rewrite
    newPostings.toDF().write.mode("overwrite").parquet(s"$dir/postings2")
    newDocs.write.mode("overwrite").parquet(s"$dir/docs2")
    // segments metadata MUST track the compacted docs: min/max stay
    // correct but docIds are now SPARSE inside them, and the dense-
    // prefix consumers (MatchAll docId-cutoff, early-terminating sorted
    // reads) decide from nDocs == max-min+1 whether a segment is dense
    spark.read.parquet(s"$dir/docs2").groupBy("segId")
      .agg(count(lit(1)).as("nDocs"),
        min("docId").as("minDocId"), max("docId").as("maxDocId"))
      .select(col("segId").cast("int"), col("nDocs").cast("long"),
        col("minDocId").cast("long"), col("maxDocId").cast("long"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/segments2")
    // term stats from the JUST-WRITTEN compacted postings (columnar
    // term/df/ttf scan) — recomputing from newPostings would re-run the
    // whole explode→anti-join→re-block pipeline a second time
    TermFilters.withFilterCols(
      spark.read.parquet(s"$dir/postings2").groupBy("term")
        .agg(sum("df").as("df"), sum("ttf").as("ttf")))
      .write.mode("overwrite").parquet(s"$dir/termstats2")

    // atomic-ish swap (directory renames; manifest written last)
    def swap(name: String): Unit = {
      val old = Paths.get(dir, name)
      val tmp = Paths.get(dir, s"$name.old")
      Files.move(old, tmp)
      Files.move(Paths.get(dir, s"${name}2"), old)
      deleteRecursive(tmp)
    }
    swap("postings"); swap("docs"); swap("termstats"); swap("segments")
    deleteRecursive(Paths.get(tombstonePath(dir)))

    val manifest = new String(Files.readAllBytes(Paths.get(dir, "manifest.json")))
    val m = graft.util.Json.obj(graft.util.Json.parse(manifest))
    val gen = m.get("generation").map(graft.util.Json.long).getOrElse(1L)
    // the embedded segments array must track the swapped segments
    // parquet — a stale copy would describe pre-compaction dense ranges
    val segArr: Vector[Any] = spark.read.parquet(s"$dir/segments")
      .as[graft.model.SegmentInfo].collect().sortBy(_.segId).toVector
      .map(s => scala.collection.immutable.ListMap[String, Any](
        "segId" -> s.segId.toLong, "nDocs" -> s.nDocs,
        "minDocId" -> s.minDocId, "maxDocId" -> s.maxDocId))
    val updated = graft.util.Json.write(m
      .updated("generation", gen + 1)
      .updated("docCount", bm.docCount)
      .updated("sumTotalTermFreq", bm.sumTotalTermFreq)
      // avgdl tracks the post-compaction stats (the regex rewrite used
      // to leave it stale — informational, but keep it truthful)
      .updated("avgdl", bm.sumTotalTermFreq.toDouble / math.max(1L, bm.docCount))
      .updated("segments", segArr))
    val tmp = Paths.get(dir, ".manifest.json.tmp")
    Files.write(tmp, updated.getBytes)
    Files.move(tmp, Paths.get(dir, "manifest.json"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    // the new reader plans the same paths as the old reader's warm
    // tables; unpinned, they cannot shadow the compacted ones
    idx.release()
    InvertedIndex.open(spark, dir)
  }

  private def deleteRecursive(p: java.nio.file.Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .forEach(f => Files.delete(f))
}
