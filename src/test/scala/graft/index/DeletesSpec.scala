package graft.index

import java.nio.file.Files

import graft.SparkSpec
import graft.model.Page
import graft.search._

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions.col

/** Tombstone deletes + compaction: deleted docs vanish from results
  * (scorer AND relational paths) while pre-compaction scores keep the
  * full-corpus statistics (Lucene semantics: deleted docs still count
  * in collection stats until merged away); compaction reclaims them and
  * recomputes stats. */
class DeletesSpec extends SparkSpec {

  private def mkPages(texts: Seq[String]): Dataset[Page] = {
    import spark.implicits._
    texts.zipWithIndex.map { case (t, i) =>
      Page(f"https://d/$i%04d", java.sql.Timestamp.valueOf("2025-10-24 00:00:00"),
        s"<p>$t</p>".getBytes, t, "en")
    }.toDS()
  }

  private val texts = Seq(
    "spark join merge", "spark spark batch", "the window sort spark",
    "join batch window", "spark merge sort")

  test("delete-by-url: excluded from results, stats unchanged, compaction reclaims") {
    val dir = Files.createTempDirectory("graft-del").toString
    val idx = IndexBuilder.build(spark, mkPages(texts), dir,
      IndexConfig(numPartitions = 2, partsPerSegment = 1))
    val searcher = new Searcher(idx)

    val before = searcher.topK(TermQ("spark"), 10).collect()
    assert(before.length === 4)

    // delete doc 0001 (a top 'spark' hit) by unique key
    Deletes.deleteByUrl(idx, Seq("https://d/0001"))
    assert(idx.hasDeletes)

    val after = searcher.topK(TermQ("spark"), 10).collect()
    assert(after.length === 3)
    assert(!after.map(_.getString(2)).contains("https://d/0001"))
    // scores of survivors unchanged (stats still include the deleted doc)
    val beforeByUrl = before.map(r => r.getString(2) -> r.getFloat(3)).toMap
    after.foreach(r => assert(r.getFloat(3) === beforeByUrl(r.getString(2))))

    // relational path agrees
    val rel = new RelationalPath(idx)
    val relIds = rel.termTopK("spark", 10).collect().map(_.getLong(1)).toSet
    assert(!relIds.contains(1L))
    assert(relIds.size === 3)

    // boolean path also respects deletes
    val andHits = searcher.topK(Query.and("spark", "batch"), 10).collect()
    assert(andHits.isEmpty) // only doc 0001 had both

    // compact: tombstones gone, stats recomputed, audit clean
    val compacted = Deletes.compact(idx)
    assert(!compacted.hasDeletes)
    assert(compacted.stats.docCount === 4)
    assert(compacted.stats.sumTotalTermFreq ===
      texts.zipWithIndex.filterNot(_._2 == 1).map(_._1.split(' ').length).sum)
    assert(CheckIndex.audit(compacted).nonEmpty === false ||
      CheckIndex.audit(compacted).forall(_.contains("docId space")))

    // post-compaction scores == SpecOracle over the remaining corpus
    val remaining = texts.zipWithIndex.filterNot(_._2 == 1)
      .map { case (t, i) => (f"https://d/$i%04d", t, "en") }
    val oracle = new SpecOracle(remaining)
    val s2 = new Searcher(compacted)
    val got = s2.topK(TermQ("spark"), 10).collect()
      .map(r => r.getString(2) -> r.getFloat(3)).toMap
    val expected = oracle.topK(TermQ("spark"), 10)
      .map { case (_, _, u, s) => u -> s }.toMap
    assert(got === expected)
  }

  test("stale live reader survives in-place compaction: dense-prefix fast paths refresh") {
    val dir = Files.createTempDirectory("graft-del-stale").toString
    val idx = IndexBuilder.build(spark, mkPages(texts), dir,
      IndexConfig(numPartitions = 2, partsPerSegment = 1))
    val searcher = new Searcher(idx)
    // prime the segments cache via the match-all docId-cutoff fast path
    assert(idx.segmentsDense)
    assert(searcher.topK(MatchAllQ, 2).collect().map(_.getLong(1)).toSeq
      === Seq(0L, 1L))
    // delete the first docs of the dense prefix, compact IN PLACE
    Deletes.deleteByUrl(idx, Seq("https://d/0000", "https://d/0001"))
    Deletes.compact(idx)
    // the SAME stale instance: generation drift must refresh the cached
    // segment ranges — the STALE ranges would cut to docIds [0,1], which
    // no longer exist, silently returning zero docs. (The refreshed
    // segments may legitimately still read dense — an edge deletion
    // leaves a gap-free range with a NEW min — so assert the behavior,
    // not density.)
    assert(idx.diskGeneration > idx.generation)
    val after = searcher.topK(MatchAllQ, 2).collect().map(_.getLong(1)).toSeq
    assert(after === Seq(2L, 3L))
    // reopenIfChanged hands back a current-generation reader
    val fresh = idx.reopenIfChanged()
    assert(fresh.generation === idx.diskGeneration)
    assert(fresh.stats.docCount === 3)
  }

  test("compacting a warm()ed reader: the new reader serves the compacted tables") {
    // warm() pins postings/docs/termstats under the directory's parquet
    // paths; the reader compact returns plans the same paths, so the
    // old pins must not survive the in-place rewrite
    val dir = Files.createTempDirectory("graft-del-warm").toString
    val idx = IndexBuilder.build(spark, mkPages(texts), dir,
      IndexConfig(numPartitions = 2, partsPerSegment = 1)).warm()
    assert(new Searcher(idx).topK(TermQ("spark"), 10).collect().length === 4)
    val doomed = Set(1, 4)
    Deletes.deleteByUrl(idx, doomed.toSeq.map(i => f"https://d/$i%04d"))
    val compacted = Deletes.compact(idx)
    assert(compacted.docs.count() === 3)
    val oracle = new SpecOracle(texts.zipWithIndex.collect {
      case (t, i) if !doomed(i) => (f"https://d/$i%04d", t, "en")
    })
    val s2 = new Searcher(compacted)
    Seq[Query](TermQ("spark"), Query.or("join", "window"), Query.and("spark", "sort"))
      .foreach { q =>
        val got = s2.topK(q, 10).collect()
          .map(r => (r.getInt(0), r.getString(2), r.getFloat(3))).toSeq
        val expected = oracle.topK(q, 10).map { case (rank, _, u, s) => (rank, u, s) }
        assert(got === expected, s"post-compact mismatch on $q")
      }
  }

  test("randomized deletes: exclusion pre-compact, oracle identity post-compact") {
    val rnd = new scala.util.Random(4242L)
    val vocab = Seq("the", "spark", "join", "merge", "sort", "window",
      "batch", "row", "data", "key", "rare1", "rare2")
    val corpus = (0 until 120).map { i =>
      val words = (0 until 3 + rnd.nextInt(20)).map(_ => vocab(rnd.nextInt(vocab.length)))
      (f"https://rd/$i%05d", words.mkString(" "), "en")
    }
    val dir = Files.createTempDirectory("graft-randdel").toString
    val idx = IndexBuilder.build(spark, mkPagesFrom(corpus), dir,
      IndexConfig(numPartitions = 3, partsPerSegment = 1, blockSize = 32))
    val doomed = corpus.indices.filter(_ => rnd.nextDouble() < 0.3)
    Deletes.deleteByUrl(idx, doomed.map(i => corpus(i)._1))

    val queries = Seq[Query](TermQ("spark"), Query.and("spark", "join"),
      Query.or("window", "batch"), Query.not("the", "merge"), MatchAllQ)
    val searcher = new Searcher(idx)
    // pre-compact: every deleted doc excluded from every result
    queries.foreach { q =>
      val ids = searcher.scoredHits(q, -1).collect().map(_._1).toSet
      doomed.foreach(d => assert(!ids.contains(d.toLong), s"doc $d leaked in $q"))
    }

    // post-compact: (url, score) sequences identical to a SpecOracle
    // built over the SURVIVING corpus (stats, df, avgdl all recomputed)
    val compacted = Deletes.compact(idx)
    val survivors = corpus.zipWithIndex.collect {
      case (row, i) if !doomed.contains(i) => row
    }
    val oracle = new SpecOracle(survivors)
    val s2 = new Searcher(compacted)
    queries.foreach { q =>
      val got = s2.topK(q, 10).collect()
        .map(r => (r.getString(2), r.getFloat(3))).toSeq
      val expected = oracle.topK(q, 10).map { case (_, _, u, s) => (u, s) }
      assert(got === expected, s"post-compact mismatch on $q")
    }
    // compaction keeps stable docIds (no renumbering, like a Lucene
    // merge keeping the segment map) — the density note is expected
    assert(CheckIndex.audit(compacted).forall(_.contains("docId space")))
  }

  private def mkPagesFrom(corpus: Seq[(String, String, String)]): Dataset[Page] = {
    import spark.implicits._
    corpus.map { case (url, text, lang) =>
      Page(url, java.sql.Timestamp.valueOf("2025-10-24 00:00:00"),
        s"<p>$text</p>".getBytes, text, lang)
    }.toDS()
  }

  test("TTL expiration tombstones docs older than the cutoff") {
    val dir = Files.createTempDirectory("graft-ttl").toString
    import spark.implicits._
    val pages = texts.zipWithIndex.map { case (t, i) =>
      Page(f"https://d/$i%04d",
        java.sql.Timestamp.valueOf(s"2025-10-2${(i % 3) + 1} 00:00:00"),
        s"<p>$t</p>".getBytes, t, "en")
    }.toDS()
    val idx = IndexBuilder.build(spark, pages, dir,
      IndexConfig(numPartitions = 2, partsPerSegment = 1))
    Deletes.expire(idx, java.sql.Timestamp.valueOf("2025-10-22 00:00:00"))
    // docs with ts 2025-10-21 (i % 3 == 0 → i = 0, 3) expired
    val live = new Searcher(idx).scoredHits(
      Query.or("spark", "join", "merge", "the", "window", "sort", "batch"), -1)
      .collect().map(_._1).toSet
    assert(!live.contains(0L) && !live.contains(3L))
    assert(live.contains(1L) && live.contains(2L) && live.contains(4L))
    val compacted = Deletes.compact(idx)
    assert(compacted.stats.docCount === 3)
  }

  test("delete-by-query (predicate) tombstones") {
    val dir = Files.createTempDirectory("graft-del2").toString
    val idx = IndexBuilder.build(spark, mkPages(texts), dir,
      IndexConfig(numPartitions = 2, partsPerSegment = 1))
    Deletes.deleteWhere(idx, col("dl") >= 4) // the one 4-token doc
    val hits = new Searcher(idx).topK(TermQ("window"), 10).collect()
    assert(hits.length === 1) // doc 0003 deleted? dl=4 docs: 0002(4),0003(4)
  }
}
