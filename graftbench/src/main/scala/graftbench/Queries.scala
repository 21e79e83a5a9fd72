package graftbench

import scala.util.Random

import graft.search.{AttrQ, BoolQ, PhraseQ, Query, SpanNearQ, TermQ}

/** One query of the serve stream. `shape` names the `graft.Bench` query
  * it copies (q01…q12, x01…x05); `family` groups shapes for the
  * per-layer metrics; `layer` is the module the call enters. */
sealed trait QueryOp {
  def shape: String
  def family: String
  def layer: String = "search"
}

/** Searcher.topK over a Query tree (term, bool, filter, phrase, spannear). */
final case class ScorerQ(shape: String, family: String, q: Query) extends QueryOp

/** SortedRead.earlyTopK (early = true) or SortedRead.fullScanTopK. */
final case class SortedQ(shape: String, k: Int, early: Boolean) extends QueryOp {
  def family = "sorted"
}

/** EDisMax.topK with a pf2 phrase boost on the same field. */
final case class EdismaxQ(shape: String, terms: Seq[String], mm: String) extends QueryOp {
  def family = "edismax"
}

/** RelationalPath.frangeTopK over mod(dl, m) ∈ [lo, hi]. */
final case class FrangeQ(shape: String, mod: Int, lo: Int, hi: Int) extends QueryOp {
  def family = "relational"
  override def layer = "functions"
}

/** RelationalPath.geoTopK over the synthetic doc_id-derived points. */
final case class GeoQ(shape: String, lat: Double, lon: Double, dKm: Double) extends QueryOp {
  def family = "relational"
  override def layer = "functions"
}

/** RelationalPath.intervalContainingDocs. */
final case class IntervalsQ(shape: String, big: Seq[String], gap: Int, small: String)
    extends QueryOp {
  def family = "intervals"
}

/** The seeded serve stream. The stream runs in rounds; every round runs
  * each of the 17 shapes once, in a seeded order, so the family mix is
  * the same for every seed and every run length. Within a shape, the
  * query is drawn from a small seeded pool with Zipf popularity, so
  * queries and `lang` filters repeat. Query-log studies find query
  * popularity Zipf-like, with an exponent that differs from log to log;
  * `ZipfS` is Zipf's law in its plain form and `PoolSize` a design
  * choice, neither fitted to a log. The share of timed queries that
  * repeat an earlier one is measured in every run (`repeat_share`). The
  * seed picks terms, phrase pairs and filter values; k, slop, gaps and
  * mm are those of graft.Bench for every seed. */
object Queries {

  /** The 30 common terms of the corpus (each in 76–78 % of docs). */
  val Terms: IndexedSeq[String] = IndexedSeq("spark", "window", "merge", "table",
    "column", "vector", "stream", "value", "data", "small", "join", "filter",
    "big", "group", "hash", "customer", "sort", "order", "slow", "line", "part",
    "fast", "row", "the", "agg", "key", "query", "a", "scan", "batch")

  /** Languages by descending share of the corpus. */
  val Langs: IndexedSeq[String] = IndexedSeq("en", "zh", "es", "fr", "de")

  val Shapes: IndexedSeq[String] = IndexedSeq("q01_term", "q02_term_hot",
    "q03_term_absent", "q04_and", "q05_and3", "q06_or", "q07_or_mm2", "q08_not",
    "q09_filter", "q10_phrase", "q11_sorted_early", "q12_sorted_fullscan",
    "x01_edismax", "x02_spannear", "x03_frange", "x04_geofilt", "x05_intervals")

  val Families: IndexedSeq[String] = IndexedSeq("term", "bool", "filter", "phrase",
    "sorted", "edismax", "spannear", "intervals", "relational")

  /** Families the SpecOracle states independently (rank and score identity). */
  val OracleFamilies: Set[String] = Set("term", "bool", "filter", "phrase")

  val PoolSize = 8
  val ZipfS = 1.0
  val K = 10

  /** Lat/lon expressions of x04, as in graft.Bench. */
  val LatSql = "cast(doc_id % 120 as double) - 59.5"
  val LonSql = "cast((doc_id * 7) % 360 as double) - 179.5"

  private def zipf(rnd: Random, n: Int): Int = {
    val w = (1 to n).map(i => 1.0 / math.pow(i, ZipfS))
    var u = rnd.nextDouble() * w.sum
    var i = 0
    while (i < n - 1 && u >= w(i)) { u -= w(i); i += 1 }
    i
  }

  private def distinctTerms(rnd: Random, n: Int): Seq[String] =
    rnd.shuffle(Terms).take(n)

  private def draw(shape: String, rnd: Random, i: Int): QueryOp = {
    def t = Terms(rnd.nextInt(Terms.length))
    shape match {
      case "q01_term" => ScorerQ(shape, "term", TermQ(t))
      case "q02_term_hot" => ScorerQ(shape, "term", TermQ(Seq("the", "a")(rnd.nextInt(2))))
      case "q03_term_absent" => ScorerQ(shape, "term", TermQ(f"zz_absent_$i%02d"))
      case "q04_and" => ScorerQ(shape, "bool", Query.and(distinctTerms(rnd, 2): _*))
      case "q05_and3" => ScorerQ(shape, "bool", Query.and(distinctTerms(rnd, 3): _*))
      case "q06_or" => ScorerQ(shape, "bool", Query.or(distinctTerms(rnd, 2): _*))
      case "q07_or_mm2" => ScorerQ(shape, "bool", Query.orMM(2, distinctTerms(rnd, 3): _*))
      case "q08_not" =>
        val Seq(a, b) = distinctTerms(rnd, 2)
        ScorerQ(shape, "bool", Query.not(a, b))
      case "q09_filter" =>
        ScorerQ(shape, "filter", BoolQ(must = Seq(TermQ(t)),
          filter = Seq(AttrQ("lang", Langs(zipf(rnd, Langs.length))))))
      case "q10_phrase" => ScorerQ(shape, "phrase", PhraseQ(Seq(t, t)))
      case "q11_sorted_early" => SortedQ(shape, K, early = true)
      case "q12_sorted_fullscan" => SortedQ(shape, K, early = false)
      case "x01_edismax" => EdismaxQ(shape, distinctTerms(rnd, 3), "2<67%")
      case "x02_spannear" =>
        ScorerQ(shape, "spannear", SpanNearQ(distinctTerms(rnd, 2), 3, inOrder = true))
      case "x03_frange" =>
        val lo = rnd.nextInt(5)
        FrangeQ(shape, 7, lo, lo + 2)
      case "x04_geofilt" => GeoQ(shape, rnd.nextInt(101) - 50.0, rnd.nextInt(341) - 170.0, 2000.0)
      case "x05_intervals" =>
        val Seq(a, b, c) = distinctTerms(rnd, 3)
        IntervalsQ(shape, Seq(a, b), 10, c)
    }
  }

  /** Per shape, up to PoolSize distinct queries, most popular first. */
  def pools(seed: Long): Map[String, IndexedSeq[QueryOp]] =
    Shapes.map { shape =>
      val rnd = new Random(seed * 1000003L + shape.hashCode)
      val seen = scala.collection.mutable.LinkedHashSet.empty[QueryOp]
      var tries = 0
      while (seen.size < PoolSize && tries < 50 * PoolSize) {
        seen += draw(shape, rnd, tries)
        tries += 1
      }
      shape -> seen.toIndexedSeq
    }.toMap

  /** The queries of round `r` (every shape once, seeded order and draw). */
  def round(seed: Long, pools: Map[String, IndexedSeq[QueryOp]], r: Int): IndexedSeq[QueryOp] = {
    val rnd = new Random(seed * 7919L + r)
    rnd.shuffle(Shapes).map { s =>
      val pool = pools(s)
      pool(zipf(rnd, pool.length))
    }
  }

  /** One query of each shape, the most popular of its pool. */
  def warmup(pools: Map[String, IndexedSeq[QueryOp]]): IndexedSeq[QueryOp] =
    Shapes.map(s => pools(s).head)
}
