package graft.search

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** DocTransformers — per-result-doc rewriting applied to a hits frame,
  * the reference's response-transform pipeline
  * [U solr/core/src/java/org/apache/solr/response/transform/ ≈2k:
  * DocIdAugmenterFactory `[docid]`, ExplainAugmenterFactory `[explain]`,
  * ValueAugmenterFactory `name:[value v=…]`, ChildDocTransformerFactory
  * `[child]`; SURVEY.md §2.11 "DocTransformer → map/withColumn on the
  * result Dataset"].
  *
  * Spark-first realization: every transformer is a DataFrame→DataFrame
  * step built from Column expressions (codegen; the hits frame is ≤ k
  * rows, so the augment joins broadcast the hits side and never shuffle
  * the corpus):
  *
  *  - `[docid]`        — attach the internal engine docId (url rank)
  *  - `name:[value v]` — constant field
  *  - `name:fn(args)`  — computed field from the function-query
  *                       registry (ValueSources), evaluated over the
  *                       hit's docs-table row
  *  - `[explain]`      — per-term BM25 breakdown: array<struct<term,
  *                       tf, df, dlq, score>> plus a formatted string
  *                       (Lucene Explanation.toString shape)
  *  - `[child]`        — attach matching children from a nested
  *                       block-join frame (array<struct>, limited)
  *
  * The fl-string parser accepts the reference's field-list syntax:
  * `url,score,[docid],answer:[value v=42],len:tlen(dl),[explain]`.
  */
object DocTransformers {

  sealed trait Spec
  case object DocIdT extends Spec
  final case class ValueT(name: String, v: String) extends Spec
  final case class FnT(name: String, fn: String, args: Seq[String]) extends Spec
  case object ExplainT extends Spec
  final case class Field(name: String) extends Spec

  /** Parse a Solr `fl` list into field keeps + transformer specs. */
  def parseFl(fl: String): Seq[Spec] =
    fl.split(",").map(_.trim).filter(_.nonEmpty).toSeq.map {
      case "[docid]" => DocIdT
      case "[explain]" => ExplainT
      case s if s.contains(":[value") =>
        val name = s.substring(0, s.indexOf(':'))
        val v = """v=([^\]\s]+)""".r.findFirstMatchIn(s)
          .getOrElse(sys.error(s"bad [value] transformer: $s")).group(1)
        ValueT(name, v)
      case s if s.contains(":") && s.contains("(") && s.endsWith(")") =>
        val name = s.substring(0, s.indexOf(':'))
        val call = s.substring(s.indexOf(':') + 1)
        val fn = call.substring(0, call.indexOf('('))
        val args = call.substring(call.indexOf('(') + 1, call.length - 1)
          .split(",").map(_.trim).filter(_.nonEmpty).toSeq
        FnT(name, fn, args)
      case s => Field(s)
    }

  /** Cap for shipping hit ids as an isin predicate into the docs scan
    * (an isin of millions of ids would bloat the plan; larger hit sets
    * take the distributed join). */
  val HitPushdownCap = 10000

  /** Driver-known ids of the hits frame when it is already local data
    * — every rank tail collects to the driver and rebuilds a
    * LocalRelation, so the candidate ids are free (NO probe job).
    * Returns (columnName, ids): `docId` preferred (native parquet
    * column — the isin reaches the scan as PushedFilters), else
    * `doc_id` (derived from url — plan-level prune only). */
  private def localHitIds(df: DataFrame): Option[(String, Seq[Long])] = {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    val key =
      if (df.columns.contains("docId")) "docId"
      else if (df.columns.contains("doc_id")) "doc_id"
      else return None
    df.queryExecution.optimizedPlan match {
      case lr: LocalRelation if lr.data.length <= HitPushdownCap =>
        val i = lr.output.indexWhere(_.name == key)
        if (i < 0 ||
          lr.output(i).dataType != org.apache.spark.sql.types.LongType) None
        else Some((key, lr.data.map(_.getLong(i)).toSeq))
      case _ => None
    }
  }

  /** docsWithId pruned to the hits frame's ids when they are
    * driver-known (capped-isin — the Ltr/bf treatment): a ≤k-hit fl
    * evaluation reads ≤k docs rows' row groups instead of scanning the
    * corpus. Falls back to the full frame for non-local hits. */
  private def prunedDocs(rel: RelationalPath, hits: DataFrame): DataFrame =
    localHitIds(hits) match {
      case Some((key, ids)) => rel.docsWithId.filter(col(key).isin(ids: _*))
      case None => rel.docsWithId
    }

  /** Apply transformer specs to a hits frame (must carry `doc_id`;
    * `docId` is attached on demand). Plain `Field` specs select the
    * final projection; with no Field specs all columns are kept. */
  def apply(idx: graft.index.IndexView, hits: DataFrame, q: Query,
            specs: Seq[Spec]): DataFrame = {
    val rel = new RelationalPath(idx)
    val augmented = specs.foldLeft(hits) { (df, spec) =>
      spec match {
        case DocIdT =>
          if (df.columns.contains("docId")) df
          else df.join(prunedDocs(rel, df).select(col("docId"), col("doc_id")),
            "doc_id")
        case ValueT(name, v) => df.withColumn(name, lit(v))
        case FnT(name, fn, args) =>
          // evaluate over the hit's docs-table row: join the referenced
          // columns (hits ≤ k rows — Catalyst broadcasts the small
          // side, and driver-known hit ids prune the scan)
          val needed = args.filterNot(df.columns.contains)
          val joined =
            if (needed.isEmpty) df
            else df.join(
              prunedDocs(rel, df)
                .select((col("doc_id") +: needed.map(col)): _*),
              "doc_id")
          joined.withColumn(name,
            graft.functions.ValueSources.fn(fn, args.map(col): _*))
        case ExplainT => explainNested(rel, df, Query.collectTerms(q))
        case Field(_) => df
      }
    }
    val keeps = specs.collect { case Field(n) => n }
    if (keeps.isEmpty) augmented
    else {
      val extras = specs.collect {
        case DocIdT => "docId"
        case ValueT(n, _) => n
        case FnT(n, _, _) => n
        case ExplainT => "explain"
      }
      augmented.select((keeps ++ extras).distinct.map(col): _*)
    }
  }

  /** `[explain]` nested form: per-hit array<struct<term,tf,df,dlq,
    * score>> (term-sorted) + the formatted Explanation string. */
  def explainNested(rel: RelationalPath, hits: DataFrame,
                    terms: Seq[String]): DataFrame = {
    val parts = rel.scoredTf(terms)
      .select(col("doc_id"), col("term"), col("tf").cast("long").as("tf"),
        col("df").cast("long").as("df"), col("dlq").cast("long").as("dlq"),
        col("score"))
    val nested = parts
      .groupBy("doc_id")
      .agg(array_sort(collect_list(
        struct(col("term"), col("tf"), col("df"), col("dlq"), col("score"))))
        .as("explain"))
    hits.join(nested, Seq("doc_id"), "left")
      .withColumn("explain_str",
        concat(format_number(aggregate(col("explain"), lit(0.0),
          (acc, x) => acc + x.getField("score")), 4),
          lit(" = sum of: ["),
          array_join(transform(col("explain"), x =>
            concat(format_number(x.getField("score"), 4),
              lit(" = weight(text:"), x.getField("term"),
              lit(") [tf="), x.getField("tf"),
              lit(", df="), x.getField("df"),
              lit(", dlq="), x.getField("dlq"), lit("]"))), ", "),
          lit("]")))
  }

  /** `[explain]` exploded/exact form (the gate surface): one row per
    * (hit, matched term) with the INTEGER explanation payload — tf, df,
    * dlq are the complete inputs of the BM25 contribution, so the
    * explanation is value-exact without comparing floats across
    * engines (the float score itself is rank-verified by every topK
    * gate). */
  def explainRows(idx: graft.index.IndexView, hits: DataFrame,
                  terms: Seq[String]): DataFrame = {
    val rel = new RelationalPath(idx)
    hits.join(
      rel.scoredTf(terms).select(col("doc_id"), col("term"),
        col("tf").cast("long").as("tf"), col("df").cast("long").as("df"),
        col("dlq").cast("long").as("dlq")),
      "doc_id")
      .orderBy(col("rank"), col("term"))
  }

  /** `[child limit=n]`: attach up to n matching children (by struct
    * order) from a nested block-join frame to each hit row — the
    * ChildDocTransformer over the array<struct> block (pure Column
    * ops: filter + slice, no join or shuffle at all). */
  def childAttach(nested: DataFrame, childPred: Column => Column,
                  limit: Int): DataFrame =
    nested.withColumn("children",
      slice(filter(col("children"), childPred), 1, limit))
}
