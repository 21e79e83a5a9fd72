package graft.search

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.SparkEntry
import graft.index.{Deletes, IndexView}

/** edismax dialect: parser goldens (qf/mm semantics) and execution
  * agreement with the relational statement of the same query. */
class EDisMaxSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"
  private lazy val textIdx = SparkEntry.index(spark, sfDir)
  private lazy val urlIdx = SparkEntry.urlIndex(spark, sfDir)

  private lazy val warmText = copyIndex(textIdx, "edismax-warm").warm()
  /** The text field with every third doc tombstoned, and the corpus
    * doc_ids it tombstoned. */
  private lazy val (tombText, tombDocIds) = {
    val i = copyIndex(textIdx, "edismax-tomb")
    val urls = i.docs.select("docId", "url").collect()
      .collect { case r if r.getLong(0) % 3 == 0 => r.getString(1) }.toSeq
    Deletes.deleteByUrl(i, urls)
    (i, urls.map(u => u.substring(u.lastIndexOf('/') + 1).toLong).toSet)
  }

  /** A plain IndexView over the same tables: no driver-side dictionary
    * or url cache, so every lookup runs as a Spark job (cold input). */
  private def plain(i: IndexView): IndexView = new IndexView {
    def spark = i.spark
    def stats = i.stats
    def postings = i.postings
    def docs = i.docs
    def termStats = i.termStats
  }

  private def ranks(df: DataFrame): Seq[(Int, Long)] =
    df.collect().map(r => (r.getInt(0), r.getLong(1))).toSeq

  /** The general plan: edismax stated relationally, one operator per
    * clause — per-field RelationalPath.scoredTf partials × boost, the
    * cross-field DisMax as a groupBy per (doc, term), must/mm counting
    * over terms, mustNot as an anti join, then in the pinned additive
    * order one phraseScores left join per gram, the bq left joins and
    * the bf left join over docsWithId. The same parse normalization
    * and the same double-precision formulas as EDisMax.topK, so ranks
    * must agree exactly. */
  private def generalPlan(fields: Seq[(IndexView, Double)], p0: EDisMax.Parsed,
      k: Int = 10, tie: Double = 0.0, bf: Option[Column] = None,
      pf: Seq[(IndexView, Double)] = Nil, pf2: Seq[(IndexView, Double)] = Nil,
      pf3: Seq[(IndexView, Double)] = Nil,
      bq: Seq[(String, Double)] = Nil): Seq[(Int, Long)] = {
    val must = p0.must.distinct
    val should = p0.should.distinct.filterNot(must.contains)
    val mm = math.max(0, math.min(p0.mmCount, should.length))
    val mustNot = p0.mustNot.distinct
    val ts = if (tie == 0.0) max("ws") else max("ws") + lit(tie) * (sum("ws") - max("ws"))
    var out = fields.map { case (i, b) =>
      new RelationalPath(i).scoredTf(must ++ should)
        .select(col("term"), col("docId"), col("doc_id"), (col("score") * lit(b)).as("ws"))
    }.reduce(_ unionByName _)
      .groupBy("docId", "doc_id", "term").agg(ts.as("ts"))
      .withColumn("isMust", col("term").isin(must: _*))
      .groupBy("docId", "doc_id")
      .agg(sum("ts").as("s"),
        sum(when(col("isMust"), 1).otherwise(0)).as("nMust"),
        sum(when(!col("isMust"), 1).otherwise(0)).as("nShould"))
      .filter(col("nMust") === must.length && col("nShould") >= mm)
      .select("docId", "doc_id", "s")
    if (mustNot.nonEmpty)
      out = out.join(fields.map { case (i, _) =>
        new RelationalPath(i).scoredTf(mustNot).select("docId")
      }.reduce(_ union _), Seq("docId"), "left_anti")
    def addBoost(boost: Double, scores: DataFrame): Unit =
      out = out.join(scores.toDF("docId", "__b"), Seq("docId"), "left")
        .withColumn("s", col("s") + lit(boost) * coalesce(col("__b"), lit(0.0)))
        .drop("__b")
    val ps = p0.positional
    val grams =
      (if (ps.length >= 2) pf.map { case (i, b) => (i, b, ps) } else Nil) ++
      (if (ps.length >= 2) pf2.flatMap { case (i, b) => ps.sliding(2).map((i, b, _)) } else Nil) ++
      (if (ps.length >= 3) pf3.flatMap { case (i, b) => ps.sliding(3).map((i, b, _)) } else Nil)
    grams.foreach { case (i, b, g) =>
      addBoost(b, new RelationalPath(i).phraseScores(g).select("docId", "ps"))
    }
    val primary = new RelationalPath(fields.head._1)
    bq.foreach { case (t, b) =>
      addBoost(b, primary.scoredTf(Seq(t.toLowerCase)).select("docId", "score"))
    }
    bf.foreach(fn => addBoost(1.0, primary.docsWithId.select(col("docId"), fn)))
    out.orderBy(desc("s"), asc("docId")).limit(k)
      .select(col("docId").cast("long"), col("doc_id").cast("long"), col("s"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy { case (d, _, s) => (-s, d) }
      .zipWithIndex.map { case ((_, id, _), i) => (i + 1, id) }.toSeq
  }

  test("parser: occurs, dedup, percentage mm floor") {
    val p = EDisMax.parse("+Spark -merge data window data", "50%")
    assert(p.must === Seq("spark"))
    assert(p.mustNot === Seq("merge"))
    assert(p.should === Seq("data", "window")) // deduped
    assert(p.mmCount === 1) // floor(50% of 2)
    assert(EDisMax.parse("a b c", "2").mmCount === 2) // absolute
    assert(EDisMax.parse("a b c", "67%").mmCount === 2) // floor(2.01)
  }

  test("stepped mm spec: conditional steps, negatives, clamping (Solr goldens)") {
    import EDisMax.mmFromSpec
    // absolutes and plain percentages
    assert(mmFromSpec("3", 5) === 3)
    assert(mmFromSpec("-2", 5) === 3) // all but 2
    assert(mmFromSpec("75%", 4) === 3)
    assert(mmFromSpec("-25%", 4) === 3) // 25% may be missing
    assert(mmFromSpec("9", 5) === 5) // clamped to optional count
    // the SolrPluginUtils javadoc example: "2<-25% 9<-3"
    //  ≤2 clauses → all required; 3..9 → all but 25%; >9 → all but 3
    assert(mmFromSpec("2<-25% 9<-3", 1) === 1)
    assert(mmFromSpec("2<-25% 9<-3", 2) === 2)
    assert(mmFromSpec("2<-25% 9<-3", 5) === 4) // 25% of 5 → 1 missing
    assert(mmFromSpec("2<-25% 9<-3", 10) === 7)
    // simple step: at or below the threshold all required
    assert(mmFromSpec("2<67%", 2) === 2)
    assert(mmFromSpec("2<67%", 3) === 2) // floor(67% of 3)
    // step order in the spec string does not matter
    assert(mmFromSpec("9<-3 2<-25%", 10) === 7)
  }

  test("percentage mm counts the EXECUTED optional list, not raw tokens") {
    // "+spark spark merge": spark is absorbed into must, so only `merge`
    // remains optional — 100% must demand 1, not 2 (which would be
    // unsatisfiable and return nothing for docs matching both terms)
    val p = EDisMax.parse("+spark spark merge", "100%")
    assert(p.must === Seq("spark"))
    assert(p.should === Seq("merge"))
    assert(p.mmCount === 1)
    // all-duplicate should list collapses to 1 optional clause
    assert(EDisMax.parse("data data data", "100%").mmCount === 1)
  }

  test("single text field, boost 1 ≡ the single-field relational path") {
    val rel = new RelationalPath(textIdx)
    val viaEdismax = EDisMax.topK(Seq(textIdx -> 1.0),
      EDisMax.parse("spark join", "0"), 10).collect().toSeq
    val viaBool = rel.orTopK(Seq("spark", "join"), 1, 10).collect().toSeq
    assert(viaEdismax === viaBool)
  }

  test("multi-field: url-only term matches through the url index") {
    // 'src1' appears only in urls; every returned doc must have source=src1
    val hits = EDisMax.topK(Seq(textIdx -> 2.0, urlIdx -> 1.0),
      EDisMax.parse("src1", "0"), 10).collect()
    assert(hits.nonEmpty)
    val srcOf = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    hits.foreach(r => assert(srcOf(r.getLong(1)) === "src1"))
  }

  test("tie: 0 is pure dismax, 1 degrades to plain sum, 0.3 in between") {
    val fields = Seq(textIdx -> 2.0, urlIdx -> 1.0)
    val p = EDisMax.parse("spark src3", "0")
    // tie defaulted ≡ tie = 0 explicitly (same plan branch not required,
    // same VALUES required)
    assert(EDisMax.topK(fields, p, 10).collect().toSeq ===
      EDisMax.topK(fields, p, 10, tie = 0.0).collect().toSeq)
    // tie = 1 must equal a plain cross-field SUM of boosted partials:
    // max + 1·(sum − max) = sum
    val viaTie1 = EDisMax.topK(fields, p, 10, tie = 1.0)
      .collect().map(_.getLong(1)).toSeq
    val rel = Seq(
      new RelationalPath(textIdx).scoredTf(Seq("spark", "src3"))
        .select(col("docId"), col("doc_id"), (col("score") * 2.0).as("ws")),
      new RelationalPath(urlIdx).scoredTf(Seq("spark", "src3"))
        .select(col("docId"), col("doc_id"), (col("score") * 1.0).as("ws")))
      .reduce(_ unionByName _)
      .groupBy("docId", "doc_id").agg(sum("ws").as("s"))
      .orderBy(desc("s"), asc("docId")).limit(10)
      .collect().map(_.getLong(1)).toSeq
    assert(viaTie1 === rel)
  }

  test("bf: additive boost function shifts scores by the doc feature") {
    val fields = Seq(textIdx -> 1.0)
    val p = EDisMax.parse("spark", "0")
    // constant bf cannot change the ranking, only the (hidden) score
    val base = EDisMax.topK(fields, p, 10).collect().toSeq
    val shifted = EDisMax.topK(fields, p, 10, bf = Some(lit(100.0))).collect().toSeq
    assert(base === shifted)
    // dl-dependent bf with a dominating weight ranks by dl among hits
    val byDl = EDisMax.topK(fields, p, 10,
      bf = Some(col("dl").cast("double") * 1e6)).collect().map(_.getLong(1)).toSeq
    val oracle = new RelationalPath(textIdx).scoredTf(Seq("spark"))
      .groupBy("docId", "doc_id").agg(sum("score").as("s"))
      .join(new RelationalPath(textIdx).docsWithId.select(col("docId"), col("dl")), "docId")
      .withColumn("s", col("s") + col("dl").cast("double") * 1e6)
      .orderBy(desc("s"), asc("docId")).limit(10)
      .collect().map(_.getLong(1)).toSeq
    assert(byDl === oracle)
  }

  test("pf: phrase boost never changes the hit set, boosts phrase docs") {
    val p = EDisMax.parse("batch batch", "0")
    assert(p.positional === Seq("batch", "batch")) // raw order, dups kept
    assert(p.should === Seq("batch"))              // deduped clause list
    val fields = Seq(textIdx -> 1.0)
    val base = EDisMax.topK(fields, p, 1000).collect().map(_.getLong(1)).toSet
    val boosted = EDisMax.topK(fields, p, 1000, pf = fields).collect()
    assert(boosted.map(_.getLong(1)).toSet === base) // pure boost
    // with a DOMINATING pf boost every phrase doc outranks every
    // non-phrase doc
    val phraseDocs = new RelationalPath(textIdx)
      .phraseDocs(Seq("batch", "batch")).collect().map(_.getLong(0)).toSet
    assert(phraseDocs.nonEmpty)
    val dom = EDisMax.topK(fields, p, 1000, pf = Seq(textIdx -> 1e9))
      .collect().sortBy(_.getInt(0)).map(_.getLong(1)).toSeq
    assert(dom.take(phraseDocs.size).toSet === phraseDocs)
    // phraseScores agrees with phraseDocs on the matching set
    val psDocs = new RelationalPath(textIdx)
      .phraseScores(Seq("batch", "batch")).collect()
    assert(psDocs.map(_.getLong(1)).toSet === phraseDocs)
    psDocs.foreach(r => assert(r.getDouble(2) > 0.0))
  }

  test("pf2/pf3: bigram shingles; 2-term pf2 ≡ pf; pure boost") {
    val fields = Seq(textIdx -> 1.0)
    val p2 = EDisMax.parse("batch batch", "0")
    // one bigram of a 2-term query IS the whole phrase
    assert(EDisMax.topK(fields, p2, 10, pf2 = fields).collect().toSeq ===
      EDisMax.topK(fields, p2, 10, pf = fields).collect().toSeq)
    val p3 = EDisMax.parse("batch batch merge", "0")
    val base = EDisMax.topK(fields, p3, 1000).collect().map(_.getLong(1)).toSet
    val boosted = EDisMax.topK(fields, p3, 1000,
      pf2 = Seq(textIdx -> 0.4), pf3 = Seq(textIdx -> 0.2)).collect()
    assert(boosted.map(_.getLong(1)).toSet === base) // hit set unchanged
    // pf3 on a 2-term query is a no-op
    assert(EDisMax.topK(fields, p2, 10, pf3 = fields).collect().toSeq ===
      EDisMax.topK(fields, p2, 10).collect().toSeq)
  }

  test("bq: additive boost query never changes the hit set") {
    val fields = Seq(textIdx -> 1.0)
    val p = EDisMax.parse("spark", "0")
    val base = EDisMax.topK(fields, p, 1000).collect().map(_.getLong(1)).toSet
    val boosted = EDisMax.topK(fields, p, 1000, bq = Seq("merge" -> 1e9))
      .collect()
    assert(boosted.map(_.getLong(1)).toSet === base)
    // dominating bq: docs matching merge rank ahead of those that don't
    val mergeDocs = new RelationalPath(textIdx).scoredTf(Seq("merge"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val bothCnt = (base intersect mergeDocs).size
    val ranked = boosted.sortBy(_.getInt(0)).map(_.getLong(1)).toSeq
    assert(ranked.take(bothCnt).forall(mergeDocs.contains))
  }

  test("single-pass kernel ≡ general plan across query shapes") {
    // every shape on four inputs: the index as the gates open it, a
    // warm()ed copy, a cold plain IndexView, and a copy with every third
    // doc tombstoned — one plan, and it must agree rank for rank with
    // the relational statement of the query
    def both(q: String, mm: String, boost: Double = 1.0,
             pf: Boolean = false, pf2: Boolean = false, pf3: Boolean = false,
             bq: Seq[(String, Double)] = Nil): Unit = {
      val p = EDisMax.parse(q, mm)
      def opt(on: Boolean, iv: IndexView, b: Double) = if (on) Seq(iv -> b) else Nil
      def run(iv: IndexView) =
        ranks(EDisMax.topK(Seq(iv -> boost), p, 10, pf = opt(pf, iv, 0.7),
          pf2 = opt(pf2, iv, 0.4), pf3 = opt(pf3, iv, 0.3), bq = bq))
      def twin(iv: IndexView) =
        generalPlan(Seq(iv -> boost), p, 10, pf = opt(pf, iv, 0.7),
          pf2 = opt(pf2, iv, 0.4), pf3 = opt(pf3, iv, 0.3), bq = bq)
      val got = run(textIdx)
      assert(got === twin(textIdx), s"shape: q='$q' mm='$mm'")
      assert(run(warmText) === got, s"warm: q='$q' mm='$mm'")
      assert(run(plain(textIdx)) === got, s"cold: q='$q' mm='$mm'")
      val tomb = run(tombText)
      assert(tomb === twin(tombText), s"tombstoned: q='$q' mm='$mm'")
      assert(!tomb.exists(r => tombDocIds(r._2)), s"tombstoned doc ranked: q='$q'")
    }
    both("sort merge window", "2<67%", pf2 = true)         // the x01 shape
    both("spark join", "0")                                 // plain OR
    both("spark join data", "2")                            // absolute mm
    both("+spark merge", "0")                               // must + should
    both("+spark -merge data", "0")                         // mustNot
    both("spark sort merge", "0", pf = true, pf3 = true)    // pf + pf3
    both("spark join", "0", boost = 2.5)                    // field boost
    both("spark join", "0", bq = Seq("merge" -> 1.5))       // bq
    both("spark zzzabsent", "0")                            // absent should
    both("spark zzzabsent merge", "0", pf2 = true)          // absent gram term
    both("+zzzabsent spark", "0")                           // absent must → empty
    both("spark spark merge", "100%")                       // duplicate tokens
  }

  test("kernel ≡ general plan on randomized caller-built Parsed (incl. must∩should overlap)") {
    // bypasses parse(): raw Parsed values with duplicate lists, terms in
    // BOTH must and should, and mm counts beyond the optional-clause
    // count — topK's normalization must give the kernel the invariant
    // the general plan states, or it double-counts the overlapping term
    val pool = Vector("spark", "merge", "data", "sort", "window", "zzzabsent")
    val rnd = new scala.util.Random(7)
    for (trial <- 0 until 12) {
      def pick(n: Int) = Seq.fill(n)(pool(rnd.nextInt(pool.length)))
      val must = pick(rnd.nextInt(2))
      val overlap = if (must.nonEmpty && rnd.nextBoolean()) must.take(1) else Nil
      val should = pick(1 + rnd.nextInt(3)) ++ overlap
      val mustNot = pick(rnd.nextInt(2))
        .filterNot(t => must.contains(t) || should.contains(t))
      val mm = rnd.nextInt(should.length + 2)
      val p = EDisMax.Parsed(must, should, mustNot, mm, (must ++ should).distinct)
      val pf2 = if (rnd.nextBoolean()) Seq(textIdx -> 0.4) else Nil
      val viaKernel = ranks(EDisMax.topK(Seq(textIdx -> 1.0), p, 10, pf2 = pf2))
      val viaGeneral = generalPlan(Seq(textIdx -> 1.0), p, 10, pf2 = pf2)
      assert(viaKernel === viaGeneral,
        s"trial $trial: must=$must should=$should mustNot=$mustNot mm=$mm")
    }
  }

  test("multi-field kernel ≡ general plan across query shapes") {
    // qf = text^2 url^1; each shape also runs with the text field
    // tombstoned (a doc deleted there can still match through the url
    // field) and with both fields as cold plain views
    def both(q: String, mm: String, tie: Double = 0.0,
             pfText: Boolean = false, pf2Text: Boolean = false,
             bq: Seq[(String, Double)] = Nil, bf: Option[Column] = None): Unit = {
      val p = EDisMax.parse(q, mm)
      def opt(on: Boolean, iv: IndexView, b: Double) = if (on) Seq(iv -> b) else Nil
      def run(t: IndexView, u: IndexView) =
        ranks(EDisMax.topK(Seq(t -> 2.0, u -> 1.0), p, 10, tie = tie, bf = bf,
          pf = opt(pfText, t, 0.7), pf2 = opt(pf2Text, t, 0.4), bq = bq))
      def twin(t: IndexView, u: IndexView) =
        generalPlan(Seq(t -> 2.0, u -> 1.0), p, 10, tie = tie, bf = bf,
          pf = opt(pfText, t, 0.7), pf2 = opt(pf2Text, t, 0.4), bq = bq)
      val got = run(textIdx, urlIdx)
      assert(got === twin(textIdx, urlIdx), s"shape: q='$q' mm='$mm' tie=$tie")
      assert(run(plain(textIdx), plain(urlIdx)) === got, s"cold: q='$q' mm='$mm' tie=$tie")
      assert(run(tombText, urlIdx) === twin(tombText, urlIdx),
        s"tombstoned text: q='$q' mm='$mm' tie=$tie")
    }
    val lnDl = Some(log(col("dl") + lit(1L)))
    both("spark src3", "50%")                     // the ir_q30 gate shape
    both("spark src3", "50%", tie = 0.3)          // dismax tiebreak fold
    both("spark src3", "50%", tie = 0.3, bf = lnDl) // the ir_q35 gate shape
    both("spark src3 merge", "2", tie = 0.3,      // bf dominating the ranking
      bf = Some(col("dl").cast("double") * 1e6))
    both("spark src3 merge", "2")                 // absolute mm across fields
    both("+spark src1", "0")                      // must in one field
    both("+spark -src1 merge", "0")               // mustNot from the url field
    both("spark merge window", "0", pfText = true, pf2Text = true) // grams
    both("spark src3", "0", bq = Seq("merge" -> 1.5))              // bq
    both("spark spark src3", "100%")              // duplicate tokens
  }

  test("must + mustNot across fields") {
    // +spark (text) -src1 (url): spark docs excluding source=src1
    val hits = EDisMax.topK(Seq(textIdx -> 2.0, urlIdx -> 1.0),
      EDisMax.parse("+spark -src1", "0"), 10).collect()
    assert(hits.nonEmpty)
    val srcOf = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    hits.foreach(r => assert(srcOf(r.getLong(1)) !== "src1"))
  }
}
