package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.core.Tables

/** What a workload sees of the run: the inputs, the seed and the probe.
  * `spark` is replaced by each set-up repetition. */
final class Ctx(val data: String, val runDir: String, val seed: Long,
                val cores: Int, val probe: Probe) {
  var spark: SparkSession = _
  def dir(name: String): String = {
    val p = Paths.get(runDir, name)
    Files.createDirectories(p)
    p.toString
  }
}

trait Workload {
  /** Program set-up after the session exists; timed as set-up. */
  def setup(ctx: Ctx): Unit
  /** Generates this run's seeded inputs; not timed. */
  def prepare(ctx: Ctx): Unit
  /** One pass over the workload's fixed unit of work. Passes below
    * [[warmupPasses]] are the untimed warm-up; pass 0 also runs the
    * expensive output checks. */
  def pass(ctx: Ctx, no: Int): Unit
  def warmupPasses: Int = 1
  /** Layer measurements that need their own runs (tracing only). */
  def extraLayers(ctx: Ctx): Map[String, Double] = Map.empty
  /** Query name -> result digest of every execution. */
  val digests = mutable.LinkedHashMap[String, mutable.ArrayBuffer[String]]()
  def queryNames: Seq[String] = Nil
}

object Workloads {
  def apply(name: String): Workload = name match {
    case "telemetry_mix" => new TelemetryMix
    case "store_lifecycle" => new StoreLifecycle
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def loadTables(ctx: Ctx, names: Seq[String]): Unit = {
    val t0 = System.nanoTime()
    names.foreach(t => Tables.load(ctx.spark, ctx.data, t).schema)
    ctx.probe.untimed("core.load_ms") = (System.nanoTime() - t0) / 1e6
  }

  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Nearest-rank percentile. */
  def pct(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else s(math.min(s.size - 1, math.max(0, math.ceil(p * s.size).toInt - 1)))
  }

  def timeNs[T](body: => T): (T, Long) = {
    val t0 = System.nanoTime()
    val r = body
    (r, System.nanoTime() - t0)
  }
}

/** The paper's two users: the telemetry analyst (its own queries and the
  * offline CSV pipeline) and the real-time control loop (batch replay).
  * Closed loop, one client: each pass runs every op once in a seeded
  * order and digests each query result in the sink. */
final class TelemetryMix extends Workload {
  val tables = Seq("lineitem", "orders", "customer", "nation", "part",
    "events")
  /** Query -> operator family, for the operators.<family>_s layer: every
    * `TierA` query plus the telemetry queries of `NorthStar`. */
  private val family: Map[String, String] = Map(
    "q01_grouped_stats" -> "stats",
    "q02_two_level_agg" -> "stats",
    "q03_welch_t" -> "stats",
    "q04_deadband_clamp" -> "scalar",
    "q05_corner_transform" -> "scalar",
    "q06_gradient" -> "window",
    "q07_row_index" -> "window",
    "q08_locf" -> "window",
    "q09_median15" -> "window",
    "q10_scalar_math" -> "scalar",
    "q11_session_head" -> "window",
    "q12_arm_pairing" -> "join",
    "q13_join_agg" -> "join",
    "q14_semi_join" -> "join",
    "q15_anti_join" -> "join",
    "q16_topk" -> "stats",
    "q17_intersect" -> "join",
    "q18_rank_window" -> "window",
    "q19_time_bucket_agg" -> "stats",
    "q20_distinct_count" -> "stats",
    "q33_welch_agg" -> "stats",
    "q34_welch_pvalue" -> "stats",
    "q36_rollup" -> "stats",
    "q37_except" -> "join",
    "q38_moments" -> "stats",
    "q39_approx_distinct" -> "stats",
    "q42_asof_join" -> "temporal_join",
    "q43_range_join" -> "temporal_join",
    "q50_asof_forward" -> "temporal_join",
    "q57_gap_sessions" -> "window",
    "q71_resample" -> "window",
    "q90_cube" -> "stats",
    "q91_rank_dist" -> "window",
    "q93_axes_swap" -> "scalar",
    "q94_keyed_log_id" -> "scalar")
  /** The pass's queries: the 14 whose mean traced profile is closest to
    * the whole table's (`pick_queries.py`; README.md has the figures). */
  private val queries = Seq("q03_welch_t", "q06_gradient", "q10_scalar_math",
    "q12_arm_pairing", "q14_semi_join", "q15_anti_join", "q16_topk",
    "q18_rank_window", "q33_welch_agg", "q34_welch_pvalue",
    "q39_approx_distinct", "q43_range_join", "q71_resample", "q93_axes_swap")

  /** Heavy corpus queries, one per kernel family, whose run-to-run spread
    * here is too wide for an end-to-end workload; traced runs time them
    * for the operators.<family>_s layers. */
  private val kernelQueries = Map(
    "q26_minhash_lsh_dedup" -> "dedup",
    "q109_cosine_near_dup" -> "similarity",
    "q177_tfidf_knn" -> "text",
    "q119_knn_graph" -> "graph",
    "q370_keep_policy" -> "curation")
  override def queryNames: Seq[String] = queries ++ kernelQueries.keys.toSeq.sorted

  private val control = new ControlLoop
  private var csvDir: String = _
  private var expectedRuns: Seq[String] = Nil
  private var expectedWelch: Seq[String] = Nil

  def setup(ctx: Ctx): Unit = Workloads.loadTables(ctx, tables)

  /** After one pass the JIT is still compiling: the second pass ran up
    * to 18% faster than the first. */
  override def warmupPasses: Int = 2

  def pass(ctx: Ctx, no: Int): Unit = {
    val ops = queries ++ Seq("offline_pipeline", "replay_batch")
    new Random(ctx.seed * 1000003L + no).shuffle(ops).foreach {
      case "offline_pipeline" => offline(ctx)
      case "replay_batch" => control.replay(ctx)
      case q => runQuery(ctx, q, family(q))
    }
    if (no == 0) control.checkSequential(ctx)
  }

  private def runQuery(ctx: Ctx, q: String, fam: String): Unit = {
    val p = ctx.probe
    val (res, ns) = Workloads.timeNs(p.op(q, "queries") {
      val (df, buildNs) = Workloads.timeNs(
        p.span(s"$q.build", "queries")(SparkEntry.queries(q)(ctx.spark, ctx.data)))
      p.add("queries.build_ms", buildNs / 1e6)
      p.span(s"$q.sink", "operators")(Digest.of(df))
    })
    res.foreach(d => digests.getOrElseUpdate(q, mutable.ArrayBuffer()) += d)
    p.add(s"operators.${fam}_s", ns / 1e9)
  }

  /** Seeded ORCLOG session: 4 log blocks alternating between the two
    * arms, 3 runs each, 4-dp values so the CSV round-trips exactly. */
  def prepare(ctx: Ctx): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val rnd = new Random(ctx.seed)
    val ids = rnd.shuffle((1000 to 9999).toVector).take(4)
    val rows = for {
      (logId, li) <- ids.zipWithIndex
      run <- 0 until 3
      i <- 0 until 500
    } yield {
      val enabled = li % 2 == 0
      val amp = if (enabled) 0.05 else 0.09
      val t = i * 0.0003
      def q4(x: Double) = math.round(x * 10000) / 10000.0
      (logId, if (enabled) "Actuators enabled" else "Actuators disabled",
        0.0003, (li * 10 + run).toLong, i.toLong,
        q4(1.0 + amp * math.sin(2 * math.Pi * (40 + run) * t) +
          rnd.nextGaussian() * 0.01),
        q4(rnd.nextGaussian() * 2.0), q4(rnd.nextGaussian() * 2.0))
    }
    val samples = rows.toDF("log_id", "arm", "interval_s", "run_id",
      "sample_idx", "acceleration_g", "pitch_deg", "roll_deg")
    csvDir = ctx.dir("orclog")
    graft.sources.OrcLogCsvWriter.write(samples, csvDir)
    val (rs, _, welch) = graft.pipelines.OfflineAnalytics.analyze(
      samples.withColumn("file", lit("source")), "acceleration_g",
      derivative = true)
    expectedRuns = runView(rs)
    expectedWelch = welchView(welch)
    control.prepare(ctx)
  }

  private def sig(x: Double) = f"$x%.9e"
  private def runView(rs: DataFrame): Seq[String] =
    rs.select("arm", "n", "rms", "min", "max").collect().toSeq.map(r =>
      s"${r.getString(0)}|${r.getLong(1)}|${sig(r.getDouble(2))}|" +
        s"${sig(r.getDouble(3))}|${sig(r.getDouble(4))}").sorted
  private def welchView(w: Seq[graft.pipelines.OfflineAnalytics.WelchResult]) =
    // |t| only: which arm a reader sees first (and so the sign of the
    // one-sided test) depends on how the writer split the blocks
    w.map(r => f"${r.stat}|${math.abs(r.t)}%.6e")

  /** CSV scan -> offline analysis -> Welch, checked against the
    * analysis of the samples the CSV was written from. */
  private def offline(ctx: Ctx): Unit = {
    val p = ctx.probe
    val (_, ns) = Workloads.timeNs(p.op("offline_pipeline", "pipelines") {
      val samples = p.span("csv_read", "sources")(
        graft.sources.SessionizedCsvReader.read(ctx.spark, csvDir))
      val (rs, _, welch) = p.span("offline_analyze", "pipelines")(
        graft.pipelines.OfflineAnalytics.analyze(samples, "acceleration_g",
          derivative = true))
      val runs = p.span("run_stats", "pipelines")(runView(rs))
      if (runs != expectedRuns || welchView(welch) != expectedWelch)
        p.fail("offline_pipeline: CSV analysis differs from the source")
    })
    p.add("pipelines.offline_analyze_s", ns / 1e9)
  }

  /** Per-execution profile of every query in the tag table: the median
    * of three traced runs after a warm-up run. `pick_queries.py` picks the
    * pass's queries from it. */
  def profile(ctx: Ctx): Seq[(String, Map[String, Double])] = {
    val p = ctx.probe
    family.keys.toSeq.sorted.map { q =>
      runQuery(ctx, q, family(q))
      val runs = (0 until 3).map { _ =>
        p.resetWindow()
        p.startWindow()
        val (_, ns) = Workloads.timeNs(runQuery(ctx, q, family(q)))
        p.endWindow()
        p.sparkLayers(1, ns / 1e9) ++ p.layer + ("latency_ms" -> ns / 1e6)
      }
      q -> runs.head.keys.map(k => k -> Workloads.median(runs.map(_(k)))).toMap
    }
  }

  override def extraLayers(ctx: Ctx): Map[String, Double] = {
    val ns = (0 until 3).map(_ => Workloads.timeNs(Workloads.noop(
      graft.sources.SessionizedCsvReader.read(ctx.spark, csvDir)))._2)
    // each kernel query once cold, then once timed
    val kernels = kernelQueries.toSeq.sorted.map { case (q, fam) =>
      runQuery(ctx, q, fam)
      s"operators.${fam}_s" -> Workloads.timeNs(runQuery(ctx, q, fam))._2 / 1e9
    }
    Map("sources.csv_read_s" -> Workloads.median(ns.map(_ / 1e9))) ++
      kernels ++ functionRates(ctx) ++ control.layers(ctx)
  }

  /** Native expressions of `functions/` measured on the corpus's text
    * and vector columns, each with its composed built-in twin where one
    * exists. */
  private def functionRates(ctx: Ctx): Map[String, Double] = {
    val spark = ctx.spark
    graft.GraftFunctions.register(spark)
    val docs = Tables.load(spark, ctx.data, "documents")
      .select(col("text"), split(col("text"), " ").as("toks"))
      .crossJoin(spark.range(20).toDF("rep"))
      .localCheckpoint()
    val emb = Tables.load(spark, ctx.data, "embeddings")
      .select(col("vec_id").as("id"), col("embedding").cast("array<double>").as("v"))
      .crossJoin(spark.range(20).toDF("rep"))
      .localCheckpoint()
    val nDocs = docs.count().toDouble
    val nEmb = emb.count().toDouble
    /** `n` rows over the mean time of two runs after a warm-up. */
    def rate(n: Double)(run: => Unit) = {
      run
      n / Workloads.median((0 until 2).map(_ => Workloads.timeNs(run)._2 / 1e9))
    }
    def scalar(df: DataFrame, n: Double, e: Column) =
      rate(n)(Workloads.noop(df.select(e)))
    def aggregate(df: DataFrame, n: Double, e: Column) =
      rate(n)(Workloads.noop(df.groupBy(col("rep")).agg(e)))
    val len = length(col("text")).cast("double")
    val v0 = col("v").getItem(0)
    val native = Seq(
      ("char_entropy", scalar(docs, nDocs, _), expr("char_entropy(text)"), None),
      ("max_token_run", scalar(docs, nDocs, _), expr("max_token_run(text)"), None),
      ("rolling_hash", scalar(docs, nDocs, _), expr("rolling_hash(text)"), None),
      ("char_ngrams", scalar(docs, nDocs, _), expr("char_ngrams(text, 3)"), None),
      ("token_ngrams", scalar(docs, nDocs, _), expr("token_ngrams(toks, 2)"), None),
      ("jaro_winkler", scalar(docs, nDocs, _),
        expr("jaro_winkler(text, reverse(text))"), None),
      ("char_class_count", scalar(docs, nDocs, _),
        expr("char_class_count(text, 0)"),
        Some(length(regexp_replace(col("text"), "[^0-9]", "")))),
      ("md5_hash32", scalar(docs, nDocs, _),
        graft.operators.CurationOps.md5Hash32(col("text")),
        Some(conv(substring(md5(col("text")), 1, 8), 16, 10).cast("long"))),
      ("deadband", scalar(docs, nDocs, _), expr("deadband(length(text) - 300D, 50D)"),
        Some(when(abs(len - 300.0) <= 50.0, 0.0)
          .otherwise(len - 300.0 - signum(len - 300.0) * 50.0))),
      ("exact_median", aggregate(docs, nDocs, _), expr("exact_median(length(text))"),
        Some(median(len))),
      ("vector_dot", scalar(emb, nEmb, _), expr("vector_dot(v, v)"),
        Some(expr("aggregate(zip_with(v, v, (x, y) -> x * y), 0D, (a, x) -> a + x)"))),
      ("vector_moment_gram", aggregate(emb, nEmb, _),
        expr("vector_moment_gram(v, 64)"), None),
      ("top_k_rows", aggregate(emb, nEmb, _), expr("top_k_rows(v[0], id, 10)"),
        Some(slice(sort_array(collect_list(struct((-v0).as("score"),
          col("id")))), 1, 10))))
    native.flatMap { case (name, measure, e, twin) =>
      Seq(s"functions.$name.rows_per_s" -> measure(e)) ++
        twin.map(t => s"functions.$name.twin_rows_per_s" -> measure(t))
    }.toMap
  }

}

/** Write -> append -> read -> compact -> read for every persisted store,
  * in a fresh directory per pass. */
final class StoreLifecycle extends Workload {
  /** The whole split, a 20% sample of it for the warm-up lifecycle, and
    * which of the two the store ops read. */
  private var full: String = _
  private var sample: String = _
  private var in: String = _
  private var inputBytes = Map.empty[String, Double]
  /** Store -> digest of the read every compacted store must reproduce. */
  private val expected = mutable.Map[String, String]()

  private val Terms = Seq("window", "dup", "merge")
  private val IvfCells = 16

  def setup(ctx: Ctx): Unit =
    Workloads.loadTables(ctx, Seq("documents", "embeddings", "events"))

  /** Seeded split of each input into a 70% base and a 30% delta, and
    * the same of a 20% sample, written as parquet so every store op
    * reads a real input file. */
  def prepare(ctx: Ctx): Unit = {
    val spark = ctx.spark
    full = ctx.dir("input")
    sample = ctx.dir("sample")
    def split(df: DataFrame, id: String, name: String): Unit = {
      val tagged = df
        .withColumn("__delta", pmod(xxhash64(col(id), lit(ctx.seed)), lit(100)) >= 70)
        .withColumn("__sample", pmod(xxhash64(col(id), lit(ctx.seed + 1)), lit(100)) < 20)
        .localCheckpoint()
      for ((root, rows) <- Seq(full -> tagged, sample -> tagged.filter(col("__sample")));
           (part, d) <- Seq("base" -> false, "delta" -> true))
        rows.filter(col("__delta") === d).drop("__delta", "__sample").coalesce(1)
          .write.mode("overwrite").parquet(s"$root/$name/$part")
    }
    split(Tables.load(spark, ctx.data, "documents")
      .select("doc_id", "text"), "doc_id", "docs")
    split(Tables.load(spark, ctx.data, "embeddings")
      .select("vec_id", "embedding"), "vec_id", "emb")
    split(Tables.load(spark, ctx.data, "events")
      .select("event_id", "user_id", "event_type", "value"), "event_id", "events")
    inputBytes = Seq("docs", "emb", "events").map(n =>
      n -> StoreLifecycle.bytes(Paths.get(full, n))).toMap
    in = full
  }

  private def base(ctx: Ctx, name: String): DataFrame =
    ctx.spark.read.parquet(s"$in/$name/base")
  private def delta(ctx: Ctx, name: String): DataFrame =
    ctx.spark.read.parquet(s"$in/$name/delta")
  private def whole(ctx: Ctx, name: String): DataFrame =
    base(ctx, name).unionByName(delta(ctx, name))

  /** The MOR delta: the new rows plus re-valued base rows as upserts,
    * and a disjoint set of base keys as deletes. */
  private def morDelta(ctx: Ctx): (DataFrame, DataFrame) = {
    val b = base(ctx, "events")
    val ups = delta(ctx, "events").unionByName(
      b.filter(col("event_id") % 7 === 1).withColumn("value", col("value") + 1.0))
    val dels = b.filter(col("event_id") % 11 === 1 && col("event_id") % 7 === 0)
      .select("event_id")
    (ups, dels)
  }

  import graft.sources.{InvertedIndexStore => Inv, IvfVectorStore => Ivf,
    MergeOnReadStore => Mor, NearDupGraphStore => Ndg}

  private def ivfQueries(ctx: Ctx): DataFrame =
    base(ctx, "emb").filter(col("vec_id") % 97 === 0)
  /** Cell assignments plus a top-10 search of a few stored vectors. */
  private def ivfRead(ctx: Ctx, path: String): String =
    Digest.of(ctx.spark.read.parquet(s"$path/vectors")
      .select(col("id"), col("cell").cast("long"))) + "/" +
      Digest.of(Ivf.searchTopK(ctx.spark, path, ivfQueries(ctx), "vec_id",
        "embedding", 10, 4))

  private case class Store(name: String, input: String,
                           write: (Ctx, DataFrame, String) => Unit,
                           append: (Ctx, String) => Unit,
                           compact: (Ctx, String) => Unit,
                           read: (Ctx, String) => String)

  private def ndgWrite(c: Ctx, df: DataFrame, p: String): Unit =
    Ndg.write(c.spark, df, "doc_id", "text", n = 3, baseT = 0.3,
      componentThresholds = Nil, p)
  private def invWrite(c: Ctx, df: DataFrame, p: String): Unit =
    Inv.write(c.spark, df, "doc_id", "text", 8, p)

  private val stores = Seq(
    Store("ndg", "docs", ndgWrite,
      (c, p) => Ndg.append(c.spark, delta(c, "docs"), "doc_id", "text", Nil, p),
      (c, p) => Ndg.compact(c.spark, p),
      (c, p) => Digest.of(Ndg.groupPairs(c.spark, p, 0.3)
        .select(round(col("jaccard"), 6), col("g1"), col("g2")))),
    Store("ivf", "emb",
      (c, df, p) => Ivf.write(c.spark, df, "vec_id", "embedding", IvfCells, p),
      (c, p) => Ivf.append(c.spark, delta(c, "emb"), "vec_id", "embedding", p),
      (c, p) => Ivf.compact(c.spark, p),
      ivfRead),
    Store("inv", "docs", invWrite,
      (c, p) => Inv.append(c.spark, delta(c, "docs"), "doc_id", "text", p),
      (c, p) => Inv.compact(c.spark, p),
      // BM25 sums a document's term contributions in whatever order the
      // postings are read, so scores agree to rounding only
      (c, p) => Digest.of(Inv.searchBm25(c.spark, p, Terms, 10)
        .select(col("doc_id"), round(col("bm25"), 9)))),
    Store("mor", "events",
      (_, df, p) => Mor.writeBase(df, p),
      (c, p) => { val (u, d) = morDelta(c)
        Mor.appendDelta(u, d, "event_id", p) },
      (c, p) => Mor.compact(c.spark, "event_id", p),
      (c, p) => Digest.of(Mor.read(c.spark, "event_id", p))))

  /** Pass 0 builds the reference stores and runs one untimed lifecycle
    * over the sample, so every store path is warm; later passes are
    * timed. */
  def pass(ctx: Ctx, no: Int): Unit =
    if (no > 0) lifecycle(ctx, no)
    else {
      references(ctx)
      in = sample
      try lifecycle(ctx, 0) finally in = full
    }

  private def lifecycle(ctx: Ctx, no: Int): Unit = {
    val p = ctx.probe
    val root = ctx.dir(s"stores/p$no")
    stores.foreach { st =>
      val path = s"$root/${st.name}"
      def timedOp[T](kind: String)(body: => T): Option[T] = {
        val (r, ns) = Workloads.timeNs(p.op(s"${st.name}.$kind", "sources")(body))
        p.add(s"sources.${st.name}.${kind}_s", ns / 1e9)
        r
      }
      timedOp("write")(st.write(ctx, base(ctx, st.input), path))
      timedOp("append")(st.append(ctx, path))
      val appended = timedOp("read_appended")(st.read(ctx, path))
      p.add(s"sources.${st.name}.files", StoreLifecycle.files(Paths.get(path)))
      timedOp("compact")(st.compact(ctx, path))
      val compacted = timedOp("read")(st.read(ctx, path))
      p.add(s"sources.${st.name}.bytes_per_input_byte",
        StoreLifecycle.bytes(Paths.get(path)) / inputBytes(st.input))
      (appended, compacted) match {
        case (Some(a), Some(c)) =>
          if (a != c) p.fail(s"${st.name}: pass $no reads differently after compaction")
          if (no == 0) {
            if (st.name == "ivf") ivfExact(ctx, path)
          } else if (expected.getOrElseUpdate(st.name, c) != c)
            p.fail(s"${st.name}: pass $no reads differently from the reference")
        case _ => // the failed op is already counted
      }
    }
    StoreLifecycle.delete(Paths.get(root))
  }

  /** References built another way than the timed lifecycle: the near-dup
    * and inverted stores written in one go from the whole split, and the
    * MOR store's merged view computed with plain DataFrame operations and
    * written as a base. The IVF store trains its quantizer on its first
    * write, so a whole-split build assigns other cells: the warm-up
    * lifecycle's IVF store is checked against a brute-force search
    * instead ([[ivfExact]]), and timed passes must agree with the first
    * timed pass. */
  private def references(ctx: Ctx): Unit = {
    val root = ctx.dir("stores/reference")
    val (ups, dels) = morDelta(ctx)
    val merged = base(ctx, "events")
      .join(dels, Seq("event_id"), "left_anti")
      .join(ups.select("event_id"), Seq("event_id"), "left_anti")
      .unionByName(ups)
    val builds = Seq[(String, String => Unit)](
      "ndg" -> (path => ndgWrite(ctx, whole(ctx, "docs"), path)),
      "inv" -> (path => invWrite(ctx, whole(ctx, "docs"), path)),
      "mor" -> (path => Mor.writeBase(merged, path)))
    builds.foreach { case (name, build) =>
      val path = s"$root/$name"
      ctx.probe.op(s"$name.reference", "sources") {
        build(path)
        expected(name) = stores.find(_.name == name).get.read(ctx, path)
      }
    }
    StoreLifecycle.delete(Paths.get(root))
  }

  /** The IVF store holds exactly its input's ids, and its search with
    * every cell probed returns the brute-force top 10. */
  private def ivfExact(ctx: Ctx, path: String): Unit = {
    val p = ctx.probe
    val all = whole(ctx, "emb")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val stored = Digest.of(ctx.spark.read.parquet(s"$path/vectors").select(col("id")))
    if (stored != Digest.of(all.select(col("vec_id").as("id"))))
      p.fail("ivf: stored ids differ from the input's")
    val got = Ivf.searchTopK(ctx.spark, path, ivfQueries(ctx), "vec_id",
      "embedding", 10, IvfCells).select("qid", "nid")
    def dot(a: Column, b: Column) =
      aggregate(zip_with(a, b, _ * _), lit(0.0), _ + _)
    val q = ivfQueries(ctx).select(col("vec_id").as("qid"),
      col("embedding").cast("array<double>").as("qv"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("nid"))
    val want = q.crossJoin(all.withColumnRenamed("vec_id", "nid"))
      .filter(col("qid") =!= col("nid"))
      .withColumn("cos", dot(col("qv"), col("v")) /
        sqrt(dot(col("qv"), col("qv")) * dot(col("v"), col("v"))))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 10).select("qid", "nid")
    if (Digest.of(got) != Digest.of(want))
      p.fail("ivf: top-10 with every cell probed differs from brute force")
  }
}

object StoreLifecycle {
  private def dataFiles(root: Path): Seq[Path] =
    if (!Files.exists(root)) Nil
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter { f =>
        val n = f.getFileName.toString
        Files.isRegularFile(f) && !n.startsWith(".") && !n.startsWith("_")
      }.toList
      finally s.close()
    }
  def files(root: Path): Double = dataFiles(root).size.toDouble
  def bytes(root: Path): Double = dataFiles(root).map(Files.size).sum.toDouble
  def delete(root: Path): Unit =
    if (Files.exists(root)) {
      val s = Files.walk(root)
      try s.iterator().asScala.toList.reverse.foreach(Files.deleteIfExists)
      finally s.close()
    }
}

/** The real-time control loop over a seeded multi-device raw IMU stream
  * at the sensor's 3546 Hz: batch replay over a stored stream (a pass
  * op of [[TelemetryMix]]), and, in traced runs, the streaming path fed
  * open-loop from a MemoryStream at fixed multiples of real time. */
final class ControlLoop {
  import ControlLoop.StreamStats
  import graft.pipelines.{ControlPipeline, RawImuSample}
  import graft.state.AhrsSettings

  val Hz = 3546.0
  val Devices = 4
  val BatchPerDevice = 60000
  val StreamSeconds = 4.0
  /** Micro-batch latency limit for the sustainable-rate search (ms). */
  val LatencyLimitMs = 1000.0
  private val dt = 1.0 / Hz
  private val cfg = ControlPipeline.Config(
    AhrsSettings(recoveryTriggerPeriod = (5.0 / dt).toInt), dt)
  private var batchDir: String = _
  private var seed = 0L
  /** Streaming input, enough for the rate search's top rate (8x for 4 s);
    * only traced runs stream. */
  private lazy val stream: Array[Array[RawImuSample]] =
    (0 until Devices).map(d =>
      ControlLoop.synth(seed + 1, d, (Hz * 8 * StreamSeconds).toInt)).toArray
  @volatile private var observed = 0.0

  def prepare(ctx: Ctx): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    batchDir = ctx.dir("imu")
    seed = ctx.seed
    // locals, so the closure does not capture this (unserializable) class
    val (s, n) = (seed, BatchPerDevice)
    spark.range(Devices).as[Long]
      .flatMap(d => ControlLoop.synth(s, d.toInt, n))
      .write.mode("overwrite").parquet(batchDir)
  }

  private def raw(ctx: Ctx) = {
    val spark = ctx.spark
    import spark.implicits._
    spark.read.parquet(batchDir).as[RawImuSample]
  }

  /** Batch replay of the stored stream, as one closed-loop op. */
  def replay(ctx: Ctx): Unit = {
    val p = ctx.probe
    val (_, ns) = Workloads.timeNs(p.op("replay_batch", "pipelines")(
      Workloads.noop(ControlPipeline.replayBatch(raw(ctx), cfg).toDF())))
    p.add("pipelines.replay_batch_s", ns / 1e9)
    p.add("pipelines.replay_rows_per_s", Devices * BatchPerDevice / (ns / 1e9))
  }

  /** Sequential single-device reference == batch replay of that device. */
  def checkSequential(ctx: Ctx): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val p = ctx.probe
    p.attempted += 1
    val dev0 = raw(ctx).filter($"device_id" === "dev-0")
    val want = ControlPipeline.runSequential(cfg,
      dev0.collect().sortBy(_.sample_idx).iterator).toVector
    val got = ControlPipeline.replayBatch(raw(ctx), cfg)
      .filter($"device_id" === "dev-0").collect().sortBy(_.sample_idx).toVector
    if (want.isEmpty || want != got)
      p.fail(s"control: batch replay of dev-0 differs from runSequential " +
        s"(${got.size} vs ${want.size} rows)")
  }

  /** Feeds the stream open-loop at `mult` x real time for `seconds`,
    * then drains it. A micro-batch's latency runs from when the last
    * sample it contains was due to when the batch committed. */
  def streamAt(ctx: Ctx, mult: Double, seconds: Double, name: String)
      : StreamStats = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.{StreamingQueryListener,
      StreamingQueryProgress}
    val spark = ctx.spark
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[RawImuSample]
    val progress = new java.util.concurrent.ConcurrentLinkedQueue[StreamingQueryProgress]()
    val listener = new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        progress.add(e.progress)
    }
    spark.streams.addListener(listener)
    val q = ControlPipeline.replayStreaming(input.toDS(), cfg).toDF()
      .writeStream.format("noop").outputMode("append")
      .option("checkpointLocation", ctx.dir(s"stream/$name"))
      .start()
    val hz = Hz * mult
    val total = math.min((hz * seconds).toInt, stream(0).length)
    val dueByOffset = mutable.Map[Long, Long]()
    var sent = 0
    var lateMs = 0.0
    var backlog = 0.0
    try {
      val t0 = System.nanoTime()
      val base = System.currentTimeMillis()
      var tick = 0
      while (sent < total) {
        val now = System.nanoTime()
        lateMs = math.max(lateMs, (now - t0 - tick * 10e6) / 1e6)
        val due = math.min(total, ((now - t0) / 1e9 * hz).toInt)
        if (due > sent) {
          val rows = stream.toSeq.flatMap(_.slice(sent, due))
          val off = input.addData(rows).json().toLong
          dueByOffset(off) = base + ((due - 1) / hz * 1000).toLong
          sent = due
        }
        tick += 1
        val next = t0 + tick * 10000000L
        val sleep = (next - System.nanoTime()) / 1000000L
        if (sleep > 0) Thread.sleep(sleep)
      }
      val processed = progress.asScala.map(_.numInputRows).sum
      backlog = (sent.toLong * stream.length - processed).toDouble
      q.processAllAvailable()
    } finally {
      q.stop()
      org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
      spark.streams.removeListener(listener)
    }
    val ps = progress.asScala.toSeq.filter(_.id == q.id)
    // batch 0 carries the query's start-up, not the steady state
    val lat = ps.filter(p => p.numInputRows > 0 && p.batchId > 0).flatMap { pr =>
      val end = java.time.Instant.parse(pr.timestamp).toEpochMilli +
        pr.durationMs.getOrDefault("triggerExecution", 0L)
      pr.sources.headOption.flatMap(s => dueByOffset.get(s.endOffset.toLong))
        .map(due => (end - due).toDouble)
    }
    val last = ps.lastOption
    val stateOp = last.flatMap(_.stateOperators.headOption)
    StreamStats(lat, sent.toLong * stream.length, ps.map(_.numInputRows).sum,
      backlog, lateMs,
      ps.map(_.durationMs.asScala.map { case (k, v) => k -> v.toDouble }.toMap),
      stateOp.map(_.numRowsTotal.toDouble).getOrElse(0.0),
      stateOp.map(_.memoryUsedBytes.toDouble).getOrElse(0.0))
  }

  /** Streaming at real time (latency and micro-batch breakdown), the
    * highest of a few fixed rates whose backlog stays under one latency
    * limit's worth of input and whose p90 stays under the limit, and a
    * single-threaded per-step cost of the control loop. */
  def layers(ctx: Ctx): Map[String, Double] = {
    val s = streamAt(ctx, 1.0, StreamSeconds, "rate-1x")
    def med(k: String) = Workloads.median(s.durations.flatMap(_.get(k)))
    val at1x = Map(
      "streaming.latency_p50_ms" -> Workloads.median(s.latMs),
      "streaming.latency_p90_ms" -> Workloads.pct(s.latMs, 0.9),
      "streaming.trigger_ms" -> med("triggerExecution"),
      "streaming.query_planning_ms" -> med("queryPlanning"),
      "streaming.add_batch_ms" -> med("addBatch"),
      "streaming.wal_commit_ms" -> med("walCommit"),
      "streaming.state_rows" -> s.stateRows,
      "streaming.state_bytes" -> s.stateBytes,
      "streaming.backlog_rows" -> s.backlog,
      "streaming.generator_late_ms" -> s.lateMs)
    def sustainable(m: Double, st: StreamStats) =
      st.rowsIn == st.rowsSent &&
        Workloads.pct(st.latMs, 0.9) <= LatencyLimitMs &&
        st.backlog <= Hz * m * Devices * LatencyLimitMs / 1e3
    // ascending rates, stopping at the first that is not sustainable;
    // the 1x point reuses the 4 s run above
    val rates = Seq(0.5, 1.0, 2.0, 4.0, 8.0)
    val best = rates.iterator.takeWhile { m =>
      sustainable(m, if (m == 1.0) s else streamAt(ctx, m, StreamSeconds, s"rate-$m"))
    }.foldLeft(0.0)((_, m) => Hz * Devices * m)
    at1x ++ Map("streaming.max_rows_per_s" -> best) ++ stateCosts()
  }

  private def stateCosts(): Map[String, Double] = {
    import graft.state.{Ahrs, Pid, Vec3}
    val s = stream(0)
    val n = s.length
    val gyro = s.map(r => Vec3(r.gx_raw * 0.0175, r.gy_raw * 0.0175, r.gz_raw * 0.0175))
    val acc = s.map(r => Vec3(r.ax_raw * 0.000122, r.ay_raw * 0.000122, r.az_raw * 0.000122))
    def perRow(body: => Unit): Double = {
      body // warm
      Workloads.median((0 until 3).map(_ => Workloads.timeNs(body)._2.toDouble / n))
    }
    var sink = 0.0
    val ahrs = perRow {
      var st = Ahrs.initial(cfg.settings)
      var i = 0
      while (i < n) { st = Ahrs.update(st, cfg.settings, gyro(i), acc(i), dt); i += 1 }
      sink += st.quaternion.w
    }
    val pid = perRow {
      var st = graft.state.PidState()
      var i = 0
      while (i < n) { val (x, o) = Pid.update(cfg.pidAzCfg, st, 0.0, acc(i).z - 1.0); st = x; sink += o; i += 1 }
    }
    val corner = perRow {
      var i = 0
      while (i < n) { sink += cfg.transform(acc(i).z, gyro(i).x, gyro(i).y)._1; i += 1 }
    }
    val step = perRow {
      sink += ControlPipeline.runSequential(cfg, s.iterator).size
    }
    observed = sink // keeps the loops from being optimized away
    Map("state.ahrs_update_ns" -> ahrs, "state.pid_update_ns" -> pid,
      "state.corner_ns" -> corner, "state.step_ns" -> step)
  }
}

object ControlLoop {
  import graft.pipelines.RawImuSample

  final case class StreamStats(latMs: Seq[Double], rowsSent: Long,
                               rowsIn: Long, backlog: Double, lateMs: Double,
                               durations: Seq[Map[String, Double]],
                               stateRows: Double, stateBytes: Double)

  /** The first `n` seeded raw IMU wire samples of one device. */
  def synth(seed: Long, dev: Int, n: Int): Array[RawImuSample] = {
    val rnd = new Random(seed * 7919L + dev * 104729L)
    val phase = rnd.nextDouble() * 100
    (0 until n).map { i =>
      val az = 8197 + (600 * math.sin(i * 0.01 + phase)).toInt + rnd.nextInt(40)
      RawImuSample(s"dev-$dev", i.toLong,
        rnd.nextInt(30).toShort, rnd.nextInt(30).toShort, az.toShort,
        (200 * math.sin(i * 0.003 + phase)).toInt.toShort,
        rnd.nextInt(20).toShort, rnd.nextInt(20).toShort)
    }.toArray
  }
}
