package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._

import graft.config.{FailureCollector, LookupConfig}
import graft.functions.TextFunctions
import graft.operators.{Dedup, LookupTransform, Sampling, SimilaritySearch, TextAnalysis}
import graft.sources.IO
import graft.tools.Canon

/** What one pipeline run hands to the harness, both run after the timed
  * section: the output check (None = pass, Some(reason) = fail) and, for
  * traced runs, counts of the run's outputs. */
final case class Outcome(check: () => Option[String],
    extras: () => Map[String, Double] = () => Map.empty)

/** Per-run context: the session, the run id, and the span helpers. In an
  * untraced run every helper just evaluates its body. */
final class Ctx(val spark: SparkSession, val run: Int, val traced: Boolean,
    rec: Recorder, val sink: String, extras: collection.mutable.Map[String, Double]) {

  /** A named step of the run (`io.read`, `config.validate`, `lookup.build`,
    * ...). With `jobsKey`, traced runs also count the jobs the step starts
    * (the eager jobs of a `build` call). */
  def step[T](name: String, jobsKey: String = "")(body: => T): T =
    if (!traced) body
    else {
      val j0 = if (jobsKey.nonEmpty) Harness.jobCount(this) else 0.0
      val r = rec.span(name, "run", run)(body)
      if (jobsKey.nonEmpty) note(jobsKey, Harness.jobCount(this) - j0)
      val cached = spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1e6
      extras("cache.peak_mb") = math.max(extras.getOrElse("cache.peak_mb", 0.0), cached)
      r
    }

  /** Traced runs only: materialize a layer's output to the `noop` sink
    * inside an `<layer>.exec` span, and return its executed plan. */
  def exec(layer: String, df: DataFrame): Option[SparkPlan] =
    if (!traced) None
    else {
      step(s"$layer.exec")(df.write.format("noop").mode("overwrite").save())
      Harness.drainBus(spark)
      Harness.lastWritePlan
    }

  def note(key: String, v: Double): Unit =
    if (traced) extras(key) = extras.getOrElse(key, 0.0) + v
}

object Plans {
  /** Every node of an executed plan, through AQE wrappers and query stages. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  def outRows(p: SparkPlan): Long =
    p.metrics.get("numOutputRows").map(_.value).getOrElse(0L)

  /** Rows out of the widest join of the plan: the candidate count of a
    * candidate-then-verify operator. */
  def widestJoinRows(p: SparkPlan): Long =
    nodes(p).filter(_.nodeName.contains("Join")).map(outRows).foldLeft(0L)(math.max)

  def count(p: SparkPlan, nodeName: String): Int = nodes(p).count(_.nodeName == nodeName)
}

trait Workload {
  def run(c: Ctx): Outcome
}

object Workloads {
  val Shards = 8

  def apply(name: String, data: String, ref: Map[String, String]): Workload = name match {
    case "lookup_etl"     => new LookupEtl(data, ref)
    case "curation_chain" => new CurationChain(data, ref)
    case "knn_graph"      => new KnnGraph(data, ref)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def md5Of(df: DataFrame): String = {
    val (cols, rows) = Canon.canonicalize(df)
    Canon.md5Hex(cols, rows)
  }

  def expectMd5(what: String, got: String, want: Option[String]): Option[String] = want match {
    case None => Some(s"no reference for $what")
    case Some(w) if w != got => Some(s"$what md5 $got != reference $w")
    case _ => None
  }

  /** A macro-bearing config resolved and validated the way a pipeline
    * runner would before it builds the stage. */
  def validated(cfg: LookupConfig, vars: Map[String, String]): LookupConfig = {
    val resolved = cfg.resolveMacros(vars)
    val collector = new FailureCollector
    resolved.validateRequired(collector)
    collector.getOrThrow()
    resolved
  }

  /** Sharded write to `path`; returns the read-back and its collected
    * manifest. */
  def writeAndManifest(c: Ctx, df: DataFrame, path: String, idCol: String,
      content: Column): (DataFrame, DataFrame) = {
    val back = c.step("io.write")(IO.writeShards(df, path, Shards, idCol))
    val manifest = c.step("io.manifest") {
      val m = IO.shardManifest(back, Shards, content, idCol)
      c.spark.createDataFrame(java.util.Arrays.asList(m.collect(): _*), m.schema)
    }
    if (c.traced) {
      val files = Harness.listFiles(path).filter(_.getName.endsWith(".parquet"))
      c.note("io.files", files.size)
      c.note("io.write_mb", files.map(_.length).sum / 1e6)
      c.step("io.read")(back.write.format("noop").mode("overwrite").save())
    }
    (back, manifest)
  }
}

import Workloads._

/** parquet read -> validated configs -> 4 chained lookups -> sharded write
  * -> manifest of the read-back. */
final class LookupEtl(data: String, ref: Map[String, String]) extends Workload {
  def run(c: Ctx): Outcome = {
    val s = c.spark
    val t = c.step("io.read")(Seq("lineitem", "orders", "customer", "nation", "part")
      .map(n => n -> IO.read(s, "parquet", s"$data/$n.parquet")).toMap)
    val cfgs = c.step("config.validate")(Seq(
      LookupConfig("${orders}", "l_orderkey", "o_orderkey", "o_custkey", Some("cust_key")),
      LookupConfig("customer", "cust_key", "c_custkey", "${nationCol}", Some("nation_key")),
      LookupConfig("nation", "nation_key", "n_nationkey", "n_name", Some("nation_name")),
      LookupConfig("part", "l_partkey", "p_partkey", "p_brand", Some("${brand}")))
      .map(validated(_, Map("orders" -> "orders", "nationCol" -> "c_nationkey",
        "brand" -> "brand"))))
    val enriched = c.step("lookup.build")(cfgs.foldLeft(t("lineitem")) { (in, cfg) =>
      LookupTransform(Map("in" -> in, cfg.lookupDataset -> t(cfg.lookupDataset)), cfg)
    })
    c.exec("lookup", enriched).foreach(p =>
      c.note("lookup.broadcast_joins", Plans.count(p, "BroadcastHashJoin")))
    val (back, manifest) = writeAndManifest(c, enriched, c.sink, "l_orderkey", LookupEtl.content)
    Outcome(() => expectMd5("manifest", md5Of(manifest), ref.get("manifest")),
      () => {
        val r = back.agg(count(lit(1)), count(col("nation_name")), count(col("brand"))).head()
        Map("lookup.unmatched_frac" ->
          (1.0 - (r.getLong(1) + r.getLong(2)) / (2.0 * math.max(1L, r.getLong(0)))))
      })
  }
}

object LookupEtl {
  /** The manifest's per-row content: every key and looked-up value. */
  val content: Column = TextFunctions.rollingHash(concat_ws("|",
    col("l_orderkey").cast("string"), col("l_linenumber").cast("string"),
    col("l_partkey").cast("string"), col("cust_key").cast("string"),
    col("nation_key").cast("string"), col("nation_name"), col("brand")))
}

/** read -> tier lookup -> quality gate -> exact + MinHash dedup ->
  * leakage-safe split -> decontamination -> sharded write -> manifest. */
final class CurationChain(data: String, ref: Map[String, String]) extends Workload {
  def run(c: Ctx): Outcome = {
    val s = c.spark
    val (docs, tiers, evalSet) = c.step("io.read")((
      IO.read(s, "parquet", s"$data/documents.parquet"),
      IO.read(s, "parquet", s"$data/tiers.parquet"),
      IO.read(s, "parquet", s"$data/eval.parquet")))
    val cfg = c.step("config.validate")(validated(
      LookupConfig("${dim}", "source", "source", "tier", Some("tier")), Map("dim" -> "tiers")))
    val enriched = c.step("lookup.build")(
      LookupTransform(Map("docs" -> docs.select("doc_id", "text", "source"), "tiers" -> tiers), cfg))
    c.exec("lookup", enriched).foreach(p =>
      c.note("lookup.broadcast_joins", Plans.count(p, "BroadcastHashJoin")))
    val kept = c.step("text.build") {
      val keep = TextAnalysis.qualityFilter(enriched.select("doc_id", "text"))
        .filter(col("keep")).select("doc_id")
      enriched.join(keep, Seq("doc_id"), "left_semi")
    }
    c.exec("text", kept)
    val (unique, pairs) = c.step("dedup.build", "dedup.eager_jobs") {
      val u = graft.SparkUtil.trackCache(Dedup.exact(
        kept.withColumn("__sig", md5(col("text"))), Seq("__sig"), "doc_id").drop("__sig"))
      (u, Dedup.minhashLshPairs(u.select("doc_id", "text")))
    }
    c.exec("dedup", pairs).foreach(p => c.note("dedup.candidate_pairs", Plans.widestJoinRows(p)))
    val split = c.step("split.build", "split.eager_jobs")(
      Sampling.leakageSafeSplit(unique, pairs.select("id_a", "id_b"), testPct = 20))
    c.exec("split", split)
    val clean = c.step("dedup.build")(
      Dedup.decontaminate(unique.join(split, Seq("doc_id")), evalSet))
    val (_, manifest) = writeAndManifest(c, clean, c.sink, "doc_id", CurationChain.content)
    Outcome(() => expectMd5("manifest", md5Of(manifest), ref.get("manifest")),
      () => {
        val n = math.max(1L, docs.count()).toDouble
        Map("lookup.unmatched_frac" -> enriched.filter(col("tier").isNull).count() / n,
          "text.keep_frac" -> kept.count() / n,
          "dedup.verified_pairs" -> pairs.count().toDouble)
      })
  }
}

object CurationChain {
  val content: Column = TextFunctions.rollingHash(concat_ws("|",
    col("text"), col("tier"), col("split"), col("component").cast("string")))
}

/** The auto-width LSH kNN graph (k = 5) of the embeddings, written as
  * parquet shards. The graph is approximate at the width the ladder
  * picks, so it is checked against the exact top-5 (numpy brute force):
  * every edge the two graphs share has a score within 1e-4 of the exact
  * cosine, no edge is a self edge or ranked outside 1..5, recall is at
  * least `min_recall`, and the graph's manifest equals the first run's
  * (the graph is deterministic). */
final class KnnGraph(data: String, ref: Map[String, String]) extends Workload {
  private var first: Option[String] = None

  def run(c: Ctx): Outcome = {
    val s = c.spark
    val emb = c.step("io.read")(IO.read(s, "parquet", s"$data/embeddings.parquet"))
    val graph = c.step("knn.build", "knn.eager_jobs")(SimilaritySearch.knnJoinLshAuto(emb, k = 5))
    c.exec("knn", graph).foreach(p => c.note("knn.candidates", Plans.widestJoinRows(p)))
    val (back, manifest) = writeAndManifest(c, graph, c.sink, "query_id", KnnGraph.content)
    Outcome(() => check(s, back, md5Of(manifest)),
      () => Map("knn.edges" -> back.count().toDouble))
  }

  private def check(s: SparkSession, graph: DataFrame, md5: String): Option[String] = {
    if (first.isEmpty) first = Some(md5)
    val exact = s.read.parquet(s"$data/exact_knn.parquet")
    val r = graph.as("g").join(exact.as("x"),
        col("g.query_id") === col("x.query_id") && col("g.cand_id") === col("x.cand_id"), "full")
      .agg(
        count(col("x.query_id")),
        count(when(col("g.query_id").isNotNull && col("x.query_id").isNotNull, 1)),
        count(when(abs(col("g.score") - col("x.score")) > 1e-4, 1)),
        count(when(col("g.query_id") === col("g.cand_id") ||
          col("g.rank") < 1 || col("g.rank") > 5, 1)))
      .head()
    val recall = r.getLong(1).toDouble / math.max(1L, r.getLong(0))
    val minRecall = ref.getOrElse("min_recall", "1.0").toDouble
    if (r.getLong(2) > 0) Some(s"${r.getLong(2)} scores differ from the exact cosine")
    else if (r.getLong(3) > 0) Some(s"${r.getLong(3)} self or out-of-range edges")
    else if (recall < minRecall) Some(f"recall $recall%.4f < $minRecall")
    else expectMd5("graph manifest", md5, first)
  }
}

object KnnGraph {
  val content: Column = TextFunctions.rollingHash(concat_ws("|",
    col("cand_id").cast("string"), col("rank").cast("string")))
}
