package graftbench

import java.io.PrintWriter
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.Executors

import scala.jdk.CollectionConverters._
import scala.util.Random
import scala.util.control.NonFatal

import graft.{Graft, Q, Registry}
import graft.operators.Pipeline
import graft.sources.{JsonLake, ManifestLog}
import graft.streaming.StreamingPipeline
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One benchmark run: one workload in one JVM, one caller, one operation
  * in flight. It writes raw records (one JSON object a line) to `--out`;
  * `run.py` turns them into metrics and checks them.
  *
  * {{{
  * graftbench.Main --workload star_analytics --seed 1 --seconds 15
  *   --trace 0 --data <tables> --out <records.jsonl>
  * graftbench.Main --workload job_lake ... --lake <lake> --tiny-lake <lake>
  *   --work <scratch dir>
  * }}}
  *
  * Untraced (`--trace 0`) passes time each operation and nothing else.
  * A traced run alternates untraced and traced passes; traced passes
  * record spans and attach the listener, so the overhead and the
  * span-vs-wall reconciliation come from the same run.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val rec = new Recorder(a("out"))
    try new Runner(a, rec).run()
    finally rec.close()
  }
}

/** JSON-lines writer for the raw records. */
final class Recorder(path: String) {
  private val w = new PrintWriter(path, "UTF-8")

  def write(kind: String, kv: (String, Any)*): Unit = synchronized {
    w.println(Recorder.obj(("kind" -> kind) +: kv))
    w.flush()
  }

  def close(): Unit = w.close()
}

object Recorder {
  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case other => quote(other.toString)
  }

  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => quote(k) + ":" + value(v) }.mkString("{", ",", "}")

  def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b.append('"').toString
  }
}

final class Runner(a: Map[String, String], val rec: Recorder) {
  private val workload = a("workload")
  private val seed = a("seed").toLong
  private val seconds = a("seconds").toDouble
  private val traced = a("trace") == "1"
  // fault injection for checking the failure accounting:
  // "throw:<op>" makes that operation throw, "wrong:<op>" corrupts its
  // output fingerprint
  private val fault = a.get("fault").map(_.split(":", 2)).collect {
    case Array(k, n) => (k, n)
  }
  val spans = new Spans(traced)
  val counts = new Counts
  var spark: SparkSession = _

  def faulty(kind: String, name: String): Boolean =
    fault.contains((kind, name))

  def run(): Unit = {
    val w: Workload = workload match {
      case "star_analytics" | "corpus_curation" =>
        new Queries(this, Headliners.of(workload), a("data"))
      case "job_lake" =>
        new JobLake(this, a("lake"), a("tiny-lake"), a("work"))
      case other => sys.error(s"unknown workload $other")
    }
    // set-up: from JVM start through session creation and the warm-up
    val jvmStartNs =
      ManagementFactory.getRuntimeMXBean.getStartTime * 1000000L
    spark = Graft.session()
    val ts = Clock.nowNs()
    w.warmup(spark)
    val setupEnd = Clock.nowNs()
    rec.write("setup", "s" -> (setupEnd - jvmStartNs) / 1e9,
      "session_s" -> (ts - jvmStartNs) / 1e9, "heap_mb" -> heapAtBoundary())
    val t0 = Clock.nowNs()
    // a traced run alternates untraced and traced passes, at least three,
    // so that an untraced pass follows the first traced one
    val minPasses = if (traced) 3 else 1
    var p = 0
    while ((p < minPasses || (Clock.nowNs() - t0) / 1e9 < seconds) &&
        p < w.maxPasses) {
      val tracedPass = traced && p % 2 == 1
      spans.trace = s"pass-$p"
      spans.active = tracedPass
      if (tracedPass) counts.attach(spark)
      val ps = Clock.nowNs()
      spans.span("pass") { w.pass(spark, p, tracedPass, new Random(seed * 1000003L + p)) }
      val pe = Clock.nowNs()
      spans.active = false
      if (tracedPass) counts.detach(spark)
      // the boundary after the pass's last operation
      rec.write("pass", "pass" -> p, "traced" -> tracedPass,
        "start_ns" -> ps, "end_ns" -> pe, "heap_mb" -> heapAtBoundary())
      p += 1
    }
    rec.write("window", "s" -> (Clock.nowNs() - t0) / 1e9, "passes" -> p)
    w.finish(spark)
    if (traced) writeTrace()
    spark.stop()
  }

  /** The heap still in use (MB) after a full GC, taken at the end of set-up
    * and after every pass, outside every timed region. The context cleaner
    * releases the blocks, broadcasts and shuffles of dropped frames only
    * after a collection has found them, so collect until the heap in use
    * stops falling. */
  def heapAtBoundary(): Double = {
    def collect(): Double = {
      System.gc()
      Thread.sleep(100L)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    var (prev, used, rounds) = (Double.MaxValue, collect(), 1)
    while (used < prev * 0.99 && rounds < 8) {
      prev = used
      used = collect()
      rounds += 1
    }
    used
  }

  /** Time `body` as one operation; a NonFatal error is recorded, never
    * timed as a success. */
  def op(pass: Int, tracedPass: Boolean, name: String,
      extra: => Seq[(String, Any)] = Nil)(body: => Unit): Boolean = {
    val t0 = Clock.nowNs()
    val err =
      try {
        spans.span(s"op.$name") {
          if (faulty("throw", name)) throw new RuntimeException("injected fault")
          body
        }
        None
      } catch { case NonFatal(e) => Some(s"${e.getClass.getName}: ${e.getMessage}") }
    val t1 = Clock.nowNs()
    rec.write("op", Seq("pass" -> pass, "traced" -> tracedPass,
      "name" -> name, "start_ns" -> t0, "end_ns" -> t1,
      "wall_s" -> (t1 - t0) / 1e9, "ok" -> err.isEmpty,
      "error" -> err) ++ (if (err.isEmpty) extra else Nil): _*)
    err.isEmpty
  }

  private def writeTrace(): Unit = {
    spans.all.foreach { s =>
      rec.write("span", "id" -> s.id, "parent" -> s.parent, "trace" -> s.trace,
        "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs)
    }
    counts.synchronized {
      counts.jobs.foreach { j =>
        rec.write("job", "id" -> j.id, "exec" -> j.execId,
          "site" -> counts.site(j), "start_ms" -> j.startMs,
          "end_ms" -> j.endMs, "stages" -> j.stages, "tasks" -> j.tasks,
          "run_ms" -> j.runMs, "cpu_ns" -> j.cpuNs, "gc_ms" -> j.gcMs,
          "fetch_wait_ms" -> j.fetchWaitMs, "sched_delay_ms" -> j.schedDelayMs,
          "input_bytes" -> j.inputBytes, "sw_bytes" -> j.swBytes,
          "sw_records" -> j.swRecords, "spill_bytes" -> j.spillBytes)
      }
      counts.execs.values.foreach { e =>
        rec.write("exec", "id" -> e.id, "site" -> e.desc,
          "start_ms" -> e.startMs, "end_ms" -> e.endMs)
      }
      counts.plans.foreach { p =>
        rec.write("planning", "start_ms" -> p.startMs,
          "optimize_ms" -> p.optimizeMs, "plan_ms" -> p.planMs)
      }
    }
    rec.write("cores", "n" -> spark.sparkContext.defaultParallelism)
  }
}

trait Workload {
  /** Passes the workload's inputs allow in one run. */
  def maxPasses: Int = Int.MaxValue
  def warmup(s: SparkSession): Unit
  def pass(s: SparkSession, p: Int, traced: Boolean, rng: Random): Unit
  def finish(s: SparkSession): Unit
}

/** The headliners of the two query workloads, by registry name, with the
  * engine module that registers each. */
object Headliners {
  val star: Seq[String] = Seq("q1_agg", "brand_affinity_lift",
    "q3_top_revenue", "q5_region_revenue", "q21_waiting_supplier",
    "q18_large_orders", "q8_market_share", "company_ranking",
    "window_running", "fact_star_join", "asof_join", "asof_join_native",
    "sessionize", "range_join_bucketed", "kruskal_wallis", "cdc_merge_apply")
  val corpus: Seq[String] = Seq("split_explode_multivalue",
    "skill_extract_phrase", "dedup_winnowing", "dedup_substring_spans",
    "dedup_prefix_filter", "dedup_minhash_lsh", "dedup_simhash",
    "dedup_embedding_cosine", "ann_topk_bruteforce", "source_cosine_matrix",
    "top_tokens", "tfidf_top_terms", "harmonic_centrality",
    "link_prediction_ra")

  private def modules: Seq[(String, Seq[Q])] = {
    import graft.operators._
    Seq("Analytics" -> Analytics.queries, "Cleaning" -> Cleaning.queries,
      "StarSchema" -> StarSchema.queries, "SkillExtract" -> SkillExtract.queries,
      "Enrich" -> Enrich.queries, "Dedup" -> Dedup.queries,
      "Similarity" -> Similarity.queries, "TextAnalysis" -> TextAnalysis.queries,
      "Temporal" -> Temporal.queries, "Stats" -> Stats.queries,
      "Curation" -> Curation.queries, "Chunking" -> Chunking.queries,
      "Graph" -> Graph.queries, "DataQuality" -> DataQuality.queries,
      "Inference" -> Inference.queries, "Lakehouse" -> Lakehouse.queries,
      "EntityRes" -> EntityRes.queries, "Multimodal" -> Multimodal.queries)
  }

  def of(workload: String): Seq[(Q, String)] = {
    val names = if (workload == "star_analytics") star else corpus
    val mods = modules
    names.map { n =>
      val q = Registry.byName(n)
      q -> mods.collectFirst { case (m, qs) if qs.exists(_.name == n) => m }
        .getOrElse("?")
    }
  }
}

/** star_analytics / corpus_curation: every pass runs each headliner once
  * in a seeded order, materialized to the noop sink.
  *
  * The warm-up is the output check: each headliner runs once on the real
  * inputs and its output is reduced to a row count and an
  * order-insensitive row fingerprint. Results are deterministic per data,
  * so the verdict holds for every pass of the run. The warm-up is set-up,
  * not load: it runs the headliners on one thread per core, because a
  * cold headliner spends most of its time on one driver thread (class
  * loading, JIT, code generation) while the cores idle. */
final class Queries(r: Runner, qs: Seq[(Q, String)], data: String)
    extends Workload {

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def warmup(s: SparkSession): Unit = {
    val pool = Executors.newFixedThreadPool(
      Runtime.getRuntime.availableProcessors)
    try {
      qs.map { case (q, _) =>
        pool.submit(new Runnable {
          def run(): Unit = check(s, q)
        })
      }.foreach(_.get())
    } finally pool.shutdown()
  }

  private def check(s: SparkSession, q: Q): Unit =
    try {
      val (rows, fp) = Fingerprint.of(q.fn(s, data))
      val mark = if (r.faulty("wrong", q.name)) "-wrong" else ""
      r.rec.write("check", "name" -> q.name, "rows" -> rows,
        "fp" -> (fp + mark))
    } catch { case NonFatal(e) =>
      r.rec.write("check", "name" -> q.name, "error" -> e.toString)
    }

  def pass(s: SparkSession, p: Int, traced: Boolean, rng: Random): Unit =
    rng.shuffle(qs).foreach { case (q, module) =>
      var split = Seq.empty[(String, Any)]
      r.op(p, traced, q.name, split :+ ("module" -> module)) {
        if (!traced) noop(q.fn(s, data))
        else {
          // the same work as the noop write, split into its layers: the
          // build (including eager checkpoint jobs), the physical plan,
          // and the materialization of that plan under one execution id
          val t0 = Clock.nowNs()
          val df = r.spans.span("spark.build") { q.fn(s, data) }
          val t1 = Clock.nowNs()
          val plan = r.spans.span("spark.plan") { df.queryExecution.executedPlan }
          val t2 = Clock.nowNs()
          r.spans.span("spark.exec") {
            SQLExecution.withNewExecutionId(df.queryExecution, Some("noop")) {
              plan.execute().foreach(_ => ())
            }
          }
          val t3 = Clock.nowNs()
          split = Seq("build_s" -> (t1 - t0) / 1e9,
            "plan_s" -> (t2 - t1) / 1e9, "exec_s" -> (t3 - t2) / 1e9)
        }
      }
    }

  def finish(s: SparkSession): Unit = ()
}

/** Order-insensitive fingerprint of a frame: row count plus the sum of
  * per-row hashes of a canonical JSON rendering, with floating values
  * rounded to 9 significant digits (arrays and structs recursively). */
object Fingerprint {
  def canon(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType =>
      val d = c.cast(DoubleType)
      val e = floor(log10(abs(d)))
      when(d.isNull || isnan(d) || d === 0.0, d + lit(0.0))
        .otherwise(round(d / pow(lit(10.0), e), 8) * pow(lit(10.0), e))
    case ArrayType(et, _) => transform(c, x => canon(x, et))
    case st: StructType =>
      when(c.isNull, lit(null).cast(canonType(st))).otherwise(
        struct(st.fields.map(f => canon(c.getField(f.name), f.dataType)
          .as(f.name)).toSeq: _*))
    case _ => c
  }

  private def canonType(t: DataType): DataType = t match {
    case FloatType => DoubleType
    case ArrayType(et, n) => ArrayType(canonType(et), n)
    case st: StructType =>
      StructType(st.fields.map(f => f.copy(dataType = canonType(f.dataType))))
    case other => other
  }

  def of(df: DataFrame): (Long, String) = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = named.schema.fields.map(f => canon(col(f.name), f.dataType).as(f.name))
    val h = xxhash64(to_json(struct(cols.toSeq: _*)))
    val row = named.select(pmod(h, lit(1L << 40)).as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h")), lit(0L)))
      .head()
    (row.getLong(0), f"${row.getLong(1)}%x")
  }
}

/** job_lake: the set-up runs one landing of a small lake of its own,
  * which warms the landing path. A pass is one landing of the run's lake:
  * it adds that landing's files to the streaming lake, runs
  * `StreamingPipeline.runOnce` (warehouse star) and `runOnceManifest`
  * (ManifestLog table) and counts the manifest snapshot, so it is timed
  * until its rows are readable in both sinks. A traced run then rebuilds
  * the base lake with `Pipeline.run`, listener attached, and materializes
  * each stage of the rebuild path once. */
final class JobLake(r: Runner, lake: String, tinyLake: String, work: String)
    extends Workload {

  private val dimIds = Seq("dim_source" -> "id_source",
    "dim_contrat" -> "id_contrat", "dim_titre" -> "id_titre",
    "dim_compagnie" -> "id_compagnie",
    "dim_niveau_etudes" -> "id_niveau_etudes",
    "dim_niveau_experience" -> "id_niveau_experience")

  private def landings(root: String): Seq[Path] =
    Files.list(Paths.get(root)).iterator().asScala
      .filter(_.getFileName.toString.startsWith("landing_")).toSeq
      .sortBy(_.getFileName.toString.stripPrefix("landing_").toInt)

  private lazy val lakeLandings = landings(lake)
  override def maxPasses: Int = lakeLandings.size

  private def land(from: Path, streamLake: Path, k: Int): Long = {
    Files.createDirectories(streamLake)
    Files.list(from).iterator().asScala.toSeq.sortBy(_.toString).map { f =>
      // copy under a hidden name, then rename: the file source never
      // sees a half-written file
      val tmp = streamLake.resolve(s".l$k-${f.getFileName}")
      Files.copy(f, tmp, StandardCopyOption.REPLACE_EXISTING)
      Files.move(tmp, streamLake.resolve(s"l$k-${f.getFileName}"),
        StandardCopyOption.ATOMIC_MOVE)
      Files.size(f)
    }.sum
  }

  /** The sinks of one landing sequence under `dir`. */
  private final class Sinks(dir: Path) {
    val streamLake: Path = dir.resolve("stream_lake")
    val warehouse: String = dir.resolve("stream_warehouse").toString
    val table: String = dir.resolve("offers_table").toString

    /** The landing's public calls; returns the snapshot's row count. */
    def landing(s: SparkSession): Long = {
      r.spans.span("streaming.StreamingPipeline.runOnce") {
        StreamingPipeline.runOnce(s, streamLake.toString, warehouse,
          dir.resolve("ckpt_warehouse").toString)
      }
      r.spans.span("streaming.StreamingPipeline.runOnceManifest") {
        StreamingPipeline.runOnceManifest(s, streamLake.toString, table,
          dir.resolve("ckpt_manifest").toString)
      }
      r.spans.span("sources.ManifestLog.snapshot") {
        ManifestLog.snapshot(s, table).count()
      }
    }
  }

  private val sinks = new Sinks(Paths.get(work, "landings"))

  /** Bytes under a directory, split into parquet data files and the rest. */
  private def bytes(dir: String): (Long, Long) = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) (0L, 0L)
    else {
      val fs = Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).toSeq
      val (data, other) = fs.partition { f =>
        val n = f.getFileName.toString
        n.endsWith(".parquet") && !n.startsWith(".")
      }
      (data.map(Files.size).sum, other.map(Files.size).sum)
    }
  }

  /** Fact and bridge rows whose dimension id resolves to no dimension row. */
  private def unresolved(s: SparkSession, wh: String): Long = {
    val fact = s.read.parquet(s"$wh/fact_offre")
    val parts = dimIds.map { case (d, id) =>
      fact.select(col(id).as("id"))
        .join(s.read.parquet(s"$wh/$d").select(col(id).as("id")), Seq("id"),
          "left_anti")
    } :+ s.read.parquet(s"$wh/offre_skill").select(col("id_skill").as("id"))
      .join(s.read.parquet(s"$wh/dim_skill").select(col("id_skill").as("id")),
        Seq("id"), "left_anti")
    parts.reduce(_ unionByName _).count()
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)

  private def rebuild(s: SparkSession): Unit = {
    val wh = Paths.get(work, "warehouse").toString
    var res: Pipeline.Result = null
    val ok = r.op(-1, false, "rebuild", Seq("n_raw" -> res.nRaw,
      "n_clean" -> res.nClean, "n_quarantined" -> res.nQuarantined,
      "n_facts" -> res.nFacts, "n_skill_links" -> res.nSkillLinks,
      "lake_bytes" -> bytes(s"$lake/base")._2, "landing" -> -1)) {
      res = Pipeline.run(s, s"$lake/base", wh)
    }
    if (ok) r.rec.write("lakecheck", "pass" -> -1, "landing" -> -1,
      "unresolved" -> unresolved(s, wh))
  }

  /** One landing of the small lake into a directory of its own; an error
    * is recorded as a failed set-up operation. */
  def warmup(s: SparkSession): Unit = {
    val dir = Paths.get(work, "warmup")
    r.op(-1, false, "warmup_landing") {
      val w = new Sinks(dir)
      land(landings(tinyLake).head, w.streamLake, 0)
      w.landing(s)
    }
    deleteTree(dir)
  }

  def pass(s: SparkSession, p: Int, traced: Boolean, rng: Random): Unit = {
    val inBytes = land(lakeLandings(p), sinks.streamLake, p)
    val (d0, o0) = bytes(sinks.table)
    val (wd0, wo0) = bytes(sinks.warehouse)
    var snap = -1L
    val ok = r.op(p, traced, "landing", Seq("landing" -> p,
      "snapshot_rows" -> snap)) {
      snap = sinks.landing(s)
    }
    if (ok) {
      val (d1, o1) = bytes(sinks.table)
      val (wd1, wo1) = bytes(sinks.warehouse)
      r.rec.write("lakecheck", "pass" -> p, "landing" -> p,
        "unresolved" -> unresolved(s, sinks.warehouse),
        "warehouse_facts" -> s.read.parquet(s"${sinks.warehouse}/fact_offre").count(),
        "input_bytes" -> inBytes,
        "table_data_bytes" -> (d1 - d0), "table_other_bytes" -> (o1 - o0),
        "warehouse_bytes" -> (wd1 + wo1 - wd0 - wo0))
    }
  }

  /** The traced run's rebuild path: one `Pipeline.run` of the base lake
    * (checked against the ground truth), then each stage of it
    * materialized once (each probe includes the stages before it). */
  def finish(s: SparkSession): Unit = {
    if (r.spans.enabled) {
      r.counts.attach(s)
      rebuild(s)
      r.counts.detach(s)
      val base = s"$lake/base"
      def probe(name: String)(df: => DataFrame): Unit = {
        val t0 = Clock.nowNs()
        df.write.format("noop").mode("overwrite").save()
        r.rec.write("probe", "name" -> name, "s" -> (Clock.nowNs() - t0) / 1e9)
      }
      def raw = JsonLake.readJson(s, base, Pipeline.offerSchema)
      def clean = Pipeline.clean(JsonLake.quarantine(raw)._1)
      def offers = Pipeline.enrich(clean)
      probe("sources.JsonLake.read_s")(raw)
      probe("operators.Pipeline.clean_s")(clean)
      probe("operators.Pipeline.enrich_s")(offers)
      probe("operators.Pipeline.offerSkills_s")(
        Pipeline.offerSkills(offers, graft.operators.SkillExtract.vocabDf(s)))
      probe("operators.Pipeline.dim_s")(
        Pipeline.dim(offers, "titre_homogene", "id_titre"))
    }
    Files.list(Paths.get(work)).iterator().asScala.toSeq.foreach(deleteTree)
  }
}
