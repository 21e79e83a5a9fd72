package graft.search

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.{SparkEntry, SparkSpec}
import graft.analysis.Analysis
import graft.index.{Deletes, IndexBuilder, IndexConfig, IndexView}
import graft.model.Corpus

/** The edismax kernel takes each doc's BM25 length norm from the
  * postings it scans (the block norm byte, decoded through
  * SmallFloat.LengthTable) instead of the docs table. That is sound only
  * if, for every posting, the decoded norm equals the docs table's
  * `dlq` for the posting's doc — pinned here on the gate build, on a
  * build whose analysis chain changes the token count, and after an
  * in-place compaction. */
class BlockNormsSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  /** (postings checked, postings whose norm disagrees with docs.dlq or
    * whose doc is missing from the docs table) over every term. */
  private def mismatches(idx: IndexView): (Long, Long) = {
    val s = spark
    import s.implicits._
    val terms = idx.termStats.select("term").as[String].collect().toSeq
    val rows = new RelationalPath(idx).positionsTable(terms)
      .select(col("docId").cast("long").as("docId"), col("dlq").as("blockDlq"))
      .join(idx.docs.select(col("docId"), col("dlq")), Seq("docId"), "left")
    (rows.count(), rows.filter(col("dlq").isNull || col("dlq") =!= col("blockDlq")).count())
  }

  private def assertAgree(idx: IndexView): Unit = {
    val (n, bad) = mismatches(idx)
    assert(n > 0)
    assert(bad === 0L, s"$bad of $n postings disagree with the docs table's dlq")
  }

  test("block norms ≡ docs dlq: gate build") {
    assertAgree(SparkEntry.index(spark, sfDir))
  }

  test("block norms ≡ docs dlq: stop words + multi-word synonyms + stemming") {
    // the docs stage counts tokens with the full analysis chain here
    // (the allocation-free count is off), the postings stage analyzes
    // separately — both must give the same length
    val syn = Map("order fast" -> "orderfast", "window join" -> "windowjoin",
      "data slow" -> "dataslow")
    val idx = IndexBuilder.build(spark, Corpus.pages(spark, sfDir),
      Files.createTempDirectory("graft-norms-chain").toString,
      IndexConfig(numPartitions = 4, partsPerSegment = 2,
        stopWords = Analysis.EnglishStopWords, stem = true, synonyms = syn))
    assert(idx.termDfMap().get.contains("orderfast"))
    assertAgree(idx)
  }

  test("block norms ≡ docs dlq: after compaction") {
    val gate = SparkEntry.index(spark, sfDir)
    val idx = copyIndex(gate, "graft-norms-compact")
    val urls = idx.docs.select("docId", "url").collect()
      .collect { case r if r.getLong(0) % 5 == 2 => r.getString(1) }.toSeq
    Deletes.deleteByUrl(idx, urls)
    val compacted = Deletes.compact(idx)
    assert(compacted.stats.docCount === gate.stats.docCount - urls.size)
    assertAgree(compacted)
  }
}
