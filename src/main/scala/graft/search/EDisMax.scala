package graft.search

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.analysis.Analysis
import graft.index.IndexView

/** edismax — the multi-field user-query dialect Solr serves by default
  * [U solr/core/.../search/ExtendedDismaxQParser.java, DisMaxQParser]:
  * each user term expands to a DisjunctionMax over the `qf` fields with
  * per-field boosts; bare terms are SHOULD under a percentage
  * minimum-should-match; `+`/`-` mark MUST / MUST_NOT (required in /
  * excluded from ANY qf field).
  *
  * Fields are separate single-field indexes built over the SAME corpus
  * in the SAME url order, so docIds line up across them and the
  * cross-field combine is a grouping on docId (per-field analysis
  * chains, e.g. the url field's punct→space mapping filter, live in the
  * field's own build). Scoring: per (doc, term)
  * max_f(boost_f · score_f) (tie=0), summed over matching terms —
  * DisMaxQ over fields inside BooleanQuery over terms. */
object EDisMax {

  /** @param positional the RAW positive token sequence in query order
    *        (duplicates kept, must-markers stripped, mustNot excluded) —
    *        what `pf` phrase-boosts, as Solr builds the implicit phrase
    *        from the user's token order, not the deduped clause list. */
  final case class Parsed(must: Seq[String], should: Seq[String],
                          mustNot: Seq[String], mmCount: Int,
                          positional: Seq[String])

  /** Parse the user string: whitespace-split terms with +/- prefixes;
    * `mm` is an absolute count ("2") or a percentage ("50%", floor of
    * the SHOULD clause count — the Solr rounding rule). */
  def parse(q: String, mm: String = "0"): Parsed = {
    val toks = q.trim.split("\\s+").toSeq.filter(_.nonEmpty)
    require(toks.nonEmpty, s"empty edismax query: '$q'")
    def word(t: String): String = Analysis.lowercase(t)
    val must = toks.filter(_.startsWith("+")).map(t => word(t.drop(1)))
    val mustNot = toks.filter(_.startsWith("-")).map(t => word(t.drop(1)))
    val should = toks.filterNot(t => t.startsWith("+") || t.startsWith("-")).map(word)
    // mm applies to the EXECUTED optional-clause list — dedup and
    // must-absorption first, or a percentage of the raw token count
    // could exceed the satisfiable maximum (e.g. "+spark spark merge"
    // at 100% would demand 2 SHOULD matches when only `merge` remains
    // optional, returning nothing for satisfiable queries)
    val effShould = should.distinct.filterNot(must.contains)
    val mmCount = mmFromSpec(mm, effShould.length)
    val positional = toks.filterNot(_.startsWith("-"))
      .map(t => word(if (t.startsWith("+")) t.drop(1) else t))
    Parsed(must.distinct, effShould, mustNot.distinct, mmCount, positional)
  }

  /** The FULL Solr minimum-should-match spec [U solr/core/.../util/
    * SolrPluginUtils.java#setMinShouldMatch / calculateMinShouldMatch]:
    *  - "3"     absolute count; "-2" = all but 2
    *  - "75%"   percentage, truncated toward zero (Solr rounding);
    *    "-25%"  = the percentage that may be MISSING (all but 25%)
    *  - "2<75%" conditional steps, space-separated: each `N<P` applies
    *    when the optional-clause count is GREATER than N; the step with
    *    the largest such N wins; below every N, ALL clauses required.
    * Result is clamped to [0, optCount]. */
  def mmFromSpec(mm: String, optCount: Int): Int = {
    def single(v: String): Int = {
      val t = v.trim
      val raw =
        if (t.endsWith("%")) {
          val pct = t.dropRight(1).trim.toInt
          if (pct < 0) optCount + pct * optCount / 100
          else pct * optCount / 100
        } else {
          val n = t.toInt
          if (n < 0) optCount + n else n
        }
      math.max(0, math.min(optCount, raw))
    }
    val spec = mm.trim
    if (spec.isEmpty) 0
    else if (!spec.contains("<")) single(spec)
    else {
      val steps = spec.split("\\s+").toSeq.map { c =>
        val i = c.indexOf('<')
        require(i > 0 && i < c.length - 1, s"bad mm step '$c' in '$mm'")
        (c.substring(0, i).trim.toInt, c.substring(i + 1))
      }.sortBy(_._1)
      steps.filter(_._1 < optCount).lastOption match {
        case Some((_, v)) => single(v)
        case None => optCount // at or below every threshold: all required
      }
    }
  }


  /** Execute over `fields` = (index, boost) per qf entry.
    * Output: (rank, doc_id), double-precision tie-robust ranking like
    * the other relational top-k paths. One plan for every input — warm
    * or cold, any dictionary size, with or without deletes and `bf`
    * (see `scoredDocs`).
    *
    * @param tie the dismax tiebreak [U solr DisMaxQParser `tie`]:
    *        per (doc, term) the field score is
    *        max_f(ws) + tie·(Σ_f(ws) − max_f(ws)) — 0.0 (default) is
    *        pure DisjunctionMax, 1.0 degrades to a plain sum.
    * @param bf additive boost function [U solr edismax `bf`]: a Column
    *        over the PRIMARY (first qf) field's docs table — e.g.
    *        `log(col("dl") + 1)` — added once per matching doc. Uses
    *        the same ValueSources registry as function queries.
    * @param pf phrase fields [U solr edismax `pf`]: per (index, boost),
    *        docs where `p.positional` occurs as an exact phrase gain
    *        boost · BM25-phrase-score (RelationalPath.phraseScores) —
    *        a pure BOOST: it never adds or removes hits.
    * @param pf2 bigram phrase fields [U solr edismax `pf2`]: every
    *        ADJACENT PAIR of `p.positional` is phrase-boosted the same
    *        way (Solr builds bigram shingles of the user's token
    *        order); `pf3` is the trigram analogue.
    * @param bq additive boost queries [U solr dismax/edismax `bq`]:
    *        extra term queries whose BM25 score (over the PRIMARY
    *        field, × boost) is ADDED to docs that match them — they
    *        never add or remove hits (e.g. `bq=lang:en^10` analogues).
    *        Additive combine order is pinned: s = Σts, then pf/pf2/pf3
    *        (each field in list order, grams left to right), then bq
    *        in list order, then bf. */
  def topK(fields: Seq[(IndexView, Double)], p: Parsed, k: Int = 10,
           tie: Double = 0.0,
           bf: Option[Column] = None,
           pf: Seq[(IndexView, Double)] = Nil,
           pf2: Seq[(IndexView, Double)] = Nil,
           pf3: Seq[(IndexView, Double)] = Nil,
           bq: Seq[(String, Double)] = Nil): DataFrame = {
    val scored = scoredDocs(fields, p, tie, bf, pf, pf2, pf3, bq)
    val primary = fields.head._1
    val spark = primary.spark
    import spark.implicits._
    val winners = scored
      .orderBy(desc("s"), asc("docId")).limit(k)
      .as[(Long, Double)].collect()
      .sortBy { case (d, s) => (-s, d) }
    // stored fields for the ≤k winners: the Searcher's GET_FIELDS phase
    // (the warm url cache, else one docId-pushdown fetch)
    new Searcher(primary).rankedResult(winners.map { case (d, s) => (d, s.toFloat) })
      .select(col("rank"),
        element_at(split(col("url"), "/"), -1).cast("long").as("doc_id"))
  }

  /** The lazy (docId, s) frame `topK` ranks — every live doc passing the
    * Boolean gate, fully scored. Exposed for PlanSpec.
    *
    * The whole query — per-field BM25 term partials, the cross-field
    * DisMax (tie fold), must/mustNot/mm Boolean logic over any-field
    * matches, pf/pf2/pf3 phrase tfs, bq additive boosts — folds per doc
    * in ONE distributed pass over the query terms' postings: one
    * position scan per field (a term's tf is its position count, and
    * every posting carries its doc's length norm — the block norm byte,
    * as Lucene's impacts keep (freq, norm) beside the postings), the
    * field's tombstones anti-joined, the scans tagged by field ordinal
    * and unioned, one groupByKey(docId) shuffle (the fields are docId-
    * aligned — same corpus, same url order). ExtendedDismaxQParser
    * likewise scores the same postings cursors once per segment. `bf`
    * is the only docs-table read: one left join over the primary field.
    *
    * The double-precision op sequence: per field ws = (idf_f·(tf/(tf+
    * 1.2·(0.25+0.75·dlq_f/avgdl_f))))·boost_f; per term ts = max_f(ws)
    * + tie·(Σ_f(ws) − max_f(ws)); s = Σ ts must-then-should; then per
    * gram in pinned order s += boost·(sumIdf·(ptf/(ptf+1.2·(0.25+0.75·
    * dlq/avgdl)))) with the gram field's stats; then bq in list order
    * s += boost·(idf·tfNorm) over the primary field; then s +=
    * coalesce(bf, 0). Gates ir_q30/35/36/39/41/46 hash-validate it
    * against the SQL oracles. */
  private[search] def scoredDocs(fields: Seq[(IndexView, Double)], p0: Parsed,
      tie: Double, bf: Option[Column], pf: Seq[(IndexView, Double)],
      pf2: Seq[(IndexView, Double)], pf3: Seq[(IndexView, Double)],
      bq: Seq[(String, Double)]): DataFrame = {
    require(fields.nonEmpty, "edismax needs at least one qf field")
    // re-establish parse()'s invariant (deduped lists, should disjoint
    // from must, mm within the optional count) on caller-BUILT Parsed
    // values too: the kernel folds termTs once per list entry, so a
    // term in both must and should would otherwise double-count
    val p = {
      val must = p0.must.distinct
      val should = p0.should.distinct.filterNot(must.contains)
      Parsed(must, should, p0.mustNot.distinct,
        math.max(0, math.min(p0.mmCount, should.length)), p0.positional)
    }
    require((p.must ++ p.should).nonEmpty, "edismax needs at least one positive term")
    val spark = fields.head._1.spark
    import spark.implicits._
    val empty = Seq.empty[(Long, Double)].toDF("docId", "s")
    // distinct indexes by reference — field ordinals; qf fields first
    // so ordinal < nQf ⇔ scored field
    val idxs = scala.collection.mutable.ArrayBuffer.empty[IndexView]
    def ordOf(i: IndexView): Int = {
      val at = idxs.indexWhere(_ eq i)
      if (at >= 0) at else { idxs += i; idxs.length - 1 }
    }
    val qfOrd: Array[Int] = fields.map { case (i, _) => ordOf(i) }.toArray
    val qfBoost: Array[Double] = fields.map(_._2).toArray
    val nQf = idxs.length
    // pf/pf2/pf3 shingles of the positional order as (field ordinal,
    // boost, gram), in the PINNED additive order (fields in list order,
    // grams left→right, pf before pf2 before pf3); pf's one shingle is
    // the whole sequence
    val ps = p.positional
    def shingles(fs: Seq[(IndexView, Double)], n: Int): Seq[(Int, Double, Seq[String])] =
      if (ps.length < math.max(n, 2)) Nil
      else fs.flatMap { case (i, b) =>
        val f = ordOf(i)
        ps.sliding(n).map(g => (f, b, g))
      }
    val grams = shingles(pf, ps.length) ++ shingles(pf2, 2) ++ shingles(pf3, 3)
    val nIdx = idxs.length
    val bqList: Array[(String, Double)] =
      bq.map { case (t, b) => (Analysis.lowercase(t), b) }.toArray
    val mustArr = p.must.toArray
    val shouldArr = p.should.toArray
    val mustNotArr = p.mustNot.toArray
    val mmCount = p.mmCount
    // per-ordinal terms: a qf field reads every clause term (the
    // primary field also the bq terms), a phrase field its gram terms
    val wanted: Array[Seq[String]] = Array.tabulate(nIdx) { f =>
      val mine = scala.collection.mutable.LinkedHashSet.empty[String]
      if (f < nQf) {
        (mustArr ++ shouldArr ++ mustNotArr).foreach(mine += _)
        if (f == qfOrd(0)) bqList.foreach(mine += _._1)
      }
      grams.foreach { case (gf, _, g) => if (gf == f) g.foreach(mine += _) }
      mine.toSeq
    }
    // per-query dictionary slices (the task closure never captures a
    // full df map); a term absent from a field matches nothing there
    val dfs: Array[Map[String, Long]] =
      Array.tabulate(nIdx)(f => dfLookup(idxs(f), wanted(f)))
    // a must term absent from EVERY qf field's dictionary is
    // unsatisfiable
    if (!p.must.forall(t => (0 until nQf).exists(f => dfs(f).contains(t))))
      return empty
    val scanTerms: Array[Seq[String]] =
      Array.tabulate(nIdx)(f => wanted(f).filter(dfs(f).contains))
    if (scanTerms.forall(_.isEmpty)) return empty
    val idf: Array[Map[String, Double]] = Array.tabulate(nIdx) { f =>
      val n = idxs(f).stats.docCount.toDouble
      dfs(f).map { case (t, df) => t -> math.log(1.0 + (n - df + 0.5) / (df + 0.5)) }
    }
    val avgdl: Array[Double] =
      idxs.map(i => i.stats.sumTotalTermFreq.toDouble / i.stats.docCount).toArray
    // a gram with a dictionary-absent term scores 0 everywhere — dropped,
    // order kept
    val gramSpecs: Array[(Int, Double, Array[String], Double)] =
      grams.collect { case (f, b, g) if g.forall(dfs(f).contains) =>
        val n = idxs(f).stats.docCount
        var sumIdf = 0.0 // phrase-order fold, like the scorer path
        g.foreach(t =>
          sumIdf += math.log(1.0 + (n - dfs(f)(t) + 0.5) / (dfs(f)(t) + 0.5)))
        (f, b, g.toArray, sumIdf)
      }.toArray
    val positions: org.apache.spark.sql.Dataset[(Int, Long, String, Seq[Int], Int)] =
      idxs.indices.filter(f => scanTerms(f).nonEmpty).map { f =>
        val idx = idxs(f)
        val rows = new RelationalPath(idx).positionsTable(scanTerms(f))
        // live docs only — the field's tombstones anti-joined, the rule
        // docsWithId applies
        val live =
          if (idx.hasDeletes) rows.join(idx.tombstones.toDF("docId"), Seq("docId"), "left_anti")
          else rows
        live.select(lit(f).as("fi"), col("docId").cast("long"), col("term"),
            col("pos"), col("dlq"))
          .as[(Int, Long, String, Seq[Int], Int)]
      }.reduce(_ union _)
    val scored = positions
      .groupByKey(_._2)
      .flatMapGroups { (docId, it) =>
        val posOf = Array.fill(nIdx)(
          scala.collection.mutable.HashMap.empty[String, Array[Int]])
        // per-field length norm: every posting of (field, doc) carries
        // the same one
        val dlq = new Array[Double](nIdx)
        it.foreach { case (f, _, t, pos, d) => posOf(f)(t) = pos.toArray; dlq(f) = d.toDouble }
        def presentAny(t: String): Boolean = {
          var f = 0
          var found = false
          while (!found && f < nQf) {
            found = posOf(f).contains(t); f += 1
          }
          found
        }
        // Boolean gate first — no scoring work for non-hits
        var ok = true
        var i = 0
        while (ok && i < mustNotArr.length) {
          ok = !presentAny(mustNotArr(i)); i += 1
        }
        if (ok) {
          var nMust = 0
          i = 0
          while (i < mustArr.length) {
            if (presentAny(mustArr(i))) nMust += 1; i += 1
          }
          var nShould = 0
          i = 0
          while (i < shouldArr.length) {
            if (presentAny(shouldArr(i))) nShould += 1; i += 1
          }
          ok = nMust == mustArr.length &&
            (mustArr.nonEmpty || nShould >= 1) &&
            (shouldArr.isEmpty || mmCount == 0 || nShould >= mmCount)
        }
        if (!ok) Iterator.empty
        else {
          def tfNormAt(f: Int, tf: Double): Double =
            tf / (tf + 1.2 * (0.25 + 0.75 * dlq(f) / avgdl(f)))
          // ts = cross-field dismax of the per-field weighted partials
          def termTs(t: String): Double = {
            var mx = 0.0
            var sm = 0.0
            var any = false
            var q = 0
            while (q < qfOrd.length) {
              val f = qfOrd(q)
              val tps = posOf(f).getOrElse(t, null)
              if (tps != null) {
                val ws = (idf(f)(t) * tfNormAt(f, tps.length.toDouble)) * qfBoost(q)
                if (!any || ws > mx) mx = ws
                sm += ws
                any = true
              }
              q += 1
            }
            if (!any) 0.0
            else if (tie == 0.0) mx
            else mx + tie * (sm - mx)
          }
          var s = 0.0
          i = 0
          while (i < mustArr.length) {
            val ts = termTs(mustArr(i)); if (ts != 0.0) s += ts; i += 1
          }
          i = 0
          while (i < shouldArr.length) {
            val ts = termTs(shouldArr(i)); if (ts != 0.0) s += ts; i += 1
          }
          // grams in pinned order: exact phrase frequency on the gram
          // field's positions
          var g = 0
          while (g < gramSpecs.length) {
            val (gf, boost, gram, sumIdf) = gramSpecs(g)
            val pog = posOf(gf)
            var all = true
            var m = 0
            while (all && m < gram.length) {
              all = pog.contains(gram(m)); m += 1
            }
            if (all) {
              val first = pog(gram(0))
              val tailSets = new Array[java.util.HashSet[Integer]](gram.length)
              m = 1
              while (m < gram.length) {
                val gps = pog(gram(m))
                val set = new java.util.HashSet[Integer](gps.length * 2)
                gps.foreach(pp => set.add(pp))
                tailSets(m) = set
                m += 1
              }
              var ptf = 0
              var j = 0
              while (j < first.length) {
                val pp = first(j)
                var good = true
                m = 1
                while (good && m < gram.length) {
                  good = tailSets(m).contains(pp + m); m += 1
                }
                if (good) ptf += 1
                j += 1
              }
              if (ptf > 0) s = s + boost * (sumIdf * tfNormAt(gf, ptf.toDouble))
            }
            g += 1
          }
          // bq in list order: primary-field BM25 of the term (no field
          // boost)
          var b = 0
          while (b < bqList.length) {
            val (t, boost) = bqList(b)
            val f0 = qfOrd(0)
            val tps = posOf(f0).getOrElse(t, null)
            if (tps != null)
              s = s + boost * (idf(f0)(t) * tfNormAt(f0, tps.length.toDouble))
            b += 1
          }
          Iterator.single((docId, s))
        }
      }
      .toDF("docId", "s")
    bf.fold(scored) { fn =>
      // the boost function over the primary field's docs row, ADDED
      // (edismax bf is additive; `boost` would multiply). LEFT join +
      // coalesce(0): bf never adds or removes hits, and a null-valued
      // function (e.g. log(0)) contributes 0 instead of nulling the
      // whole score — Solr bf semantics.
      val features = new RelationalPath(fields.head._1).docsWithId
        .select(col("docId"), fn.as("__bf"))
      scored.join(features, Seq("docId"), "left")
        .select(col("docId"), (col("s") + coalesce(col("__bf"), lit(0.0))).as("s"))
    }
  }

  /** Term dfs over one field: the warm driver-side dictionary when the
    * index has one loaded (no Spark job — serving mode), else a bounded
    * termStats collect. Terms absent from the field are absent from the
    * map, matching `RelationalPath.termDfs`. */
  private def dfLookup(idx: IndexView, terms: Seq[String]): Map[String, Long] =
    idx match {
      case inv: graft.index.InvertedIndex if inv.termDfMap().isDefined =>
        val m = inv.termDfMap().get
        terms.flatMap(t => m.get(t).map(t -> _)).toMap
      case _ => new RelationalPath(idx).termDfs(terms)
    }
}
