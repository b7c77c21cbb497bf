package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{count, lit, sum}

/** One row of the committed expectations: an operation id, its fingerprint
  * on the benchmark inputs, its owning module and its role (pipeline, or
  * pinned for query_mix).
  */
final case class Expected(id: String, fp: Fp, module: String, role: String)

/** The benchmark's entry point. One JVM runs one workload:
  *
  *  - pipeline: the reference pipeline from an empty Layer cache, over the
  *    pipeline corpus;
  *  - query_mix: the pinned queries in a seeded order, each Layer-cold.
  *
  * Each runs one unmeasured warm-up pass first, whose outputs are checked
  * too. Set-up is timed as the median of three session starts plus the
  * warm-up. With --trace 1 the run traces one measured pass and reports
  * per-layer counters from it. Results go to the --out file as JSON; `--record` instead writes the fingerprints of
  * every operation, which `run.py --record` turns into the expectations
  * table.
  */
object Main {
  val cores = 4
  val setups = 3

  /** Owning modules of the queries, each reported as `<module>.wall_s` and
    * `<module>.task_s` in a traced run.
    */
  val modules: Seq[String] = Seq("plans.TopKPerKey", "ops.Graph", "ops.Skew", "ext",
    "streaming", "sources", "queries.Analytics")

  def session(work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/hadoop")
      .config("spark.graft.statsDir", s"$work/graft_stats")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  val tables = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  /** Session start plus reading every input's schema and one small scan. */
  def startSession(work: String, dir: String): SparkSession = {
    val s = session(work)
    tables.foreach(t => s.read.parquet(s"$dir/$t.parquet").schema)
    s.read.parquet(s"$dir/orders.parquet").groupBy("o_orderstatus").count().collect()
    s
  }

  val refRuns = 5

  /** The host-speed reference: a fixed join and aggregation over the query
    * corpus, built from Spark's own operators only. It runs in a session of
    * its own, so no strategy or Layer the program registers touches it.
    */
  def refJob(s: SparkSession, dir: String): Unit = {
    val o = s.read.parquet(s"$dir/orders.parquet")
    val l = s.read.parquet(s"$dir/lineitem.parquet")
    o.join(l, o("o_orderkey") === l("l_orderkey"))
      .groupBy("o_orderpriority", "l_returnflag")
      .agg(sum("l_extendedprice"), count(lit(1)))
      .collect()
  }

  def loadExpected(path: String): Seq[Expected] =
    Files.readAllLines(Paths.get(path)).asScala.toSeq
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        val Array(id, fp, module, role) = l.split('\t')
        Expected(id, Fp.parse(fp), module, role)
      }

  /** The pinned queries in an order drawn from `seed`. */
  def queryMix(table: Seq[Expected], seed: Long): Seq[String] =
    new scala.util.Random(seed).shuffle(table.filter(_.role == "pinned").map(_.id))

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear interpolation between closest ranks. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else {
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val dir = opt("data")
    val work = opt("work")
    opt.get("record") match {
      case Some(out) =>
        Record.run(dir, opt("pipeline-data"), work, Paths.get(out), opt("queries").split(',').toSeq)
      case None => measure(opt, dir, work)
    }
  }

  def measure(opt: Map[String, String], dir: String, work: String): Unit = {
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val table = loadExpected(opt("expected"))
    val moduleOf = table.map(e => e.id -> e.module).toMap

    val setupTimes = ArrayBuffer[Double]()
    var spark: SparkSession = null
    (1 to setups).foreach { i =>
      val t0 = System.nanoTime()
      spark = startSession(work, dir)
      setupTimes += (System.nanoTime() - t0) / 1e9
      if (i < setups) spark.stop()
    }
    val refSession = spark.newSession()
    val rec = new Recorder(spark, s"$workload-$seed-${System.currentTimeMillis()}")
    val c = new Ctx(spark, if (workload == "pipeline") opt("pipeline-data") else dir, rec,
      table.map(e => e.id -> e.fp).toMap, recording = false)

    val names = workload match {
      case "pipeline" => Seq.empty[String]
      case "query_mix" => queryMix(table, seed)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val pass: () => Unit = workload match {
      case "pipeline" => () => Workloads.pipelinePass(c)
      case _ => () => Workloads.coldPass(c, names, moduleOf)
    }
    println(s"[perfbench] workload=$workload seed=$seed cores=$cores trace=${if (trace) 1 else 0} " +
      s"session_starts_s=${setupTimes.map(t => f"$t%.3f").mkString(",")}")
    if (names.nonEmpty) println(s"[perfbench] operations (${names.size}): ${names.mkString(" ")}")

    // The warm-up: one pass, so that the measured passes run compiled code
    // instead of racing the JIT, whose progress varies from run to run.
    val w0 = System.nanoTime()
    pass()
    val warmupS = (System.nanoTime() - w0) / 1e9
    val warmupTally = c.tally
    println(f"[perfbench] warmup_s=$warmupS%.3f")

    /** Runs `pass` once on a fresh tally. */
    def timedPass(): Pass = {
      c.tally = new Tally
      c.verbose = true
      rec.drain()
      val m0 = System.currentTimeMillis()
      val n0 = System.nanoTime()
      pass()
      val wall = (System.nanoTime() - n0) / 1e9
      val m1 = System.currentTimeMillis()
      rec.drain()
      Pass(wall, m0, m1, rec.window(m0, m1), c.tally)
    }

    /** `refRuns` timed runs of the reference job. */
    def refBlock(): Seq[Double] = (1 to refRuns).map { _ =>
      val r0 = System.nanoTime()
      refJob(refSession, dir)
      (System.nanoTime() - r0) / 1e9
    }

    // Whole passes until `seconds` have passed, each followed by a block of
    // reference runs, and one block before the first. A traced run
    // measures one pass in the same state as an untraced run's first pass,
    // so its exec.wall_s minus an untraced run's pass wall is the tracing
    // overhead.
    val refTimes = ArrayBuffer[Double]()
    refTimes ++= refBlock()
    rec.resetStoragePeak()
    val passes = ArrayBuffer[Pass]()
    val t0 = System.nanoTime()
    do {
      rec.tracing = trace
      passes += timedPass()
      rec.tracing = false
      refTimes ++= refBlock()
    } while (!trace && (System.nanoTime() - t0) / 1e9 < seconds)
    val refS = median(refTimes.toSeq)
    println(s"[perfbench] ref_s=${refTimes.map(t => f"$t%.3f").mkString(",")} median=${f"$refS%.4f"}")
    val tallies = passes.map(_.tally)
    val ops = tallies.flatMap(_.opSeconds).toSeq
    // Operation latency percentiles are printed, not reported as metrics:
    // a pass has 10 or 20 operations, so p90 rests on one or two samples.
    def each(f: Pass => Double): String = passes.map(p => f"${f(p)}%.3f").mkString(",")
    println(s"[perfbench] passes=${passes.size} walls=${each(_.wall)} task_s=${each(_.window.taskS)} " +
      s"cpu_s=${each(_.window.cpuS)} gc_s=${each(_.window.gcS)}")
    println(f"[perfbench] " +
      f"ops=${ops.size} op_p50_s=${quantile(ops, 0.5)}%.4f op_p90_s=${quantile(ops, 0.9)}%.4f " +
      f"cached_peak_mb=${rec.cachedPeakBytes / 1048576.0}%.4f")
    val metrics =
      if (trace) {
        Trace.write(rec, Paths.get(opt("spans")), workload)
        Trace.layerMetrics(rec, passes.head) :+ ("host.ref_s" -> refS)
      } else Seq(
        "setup_s" -> (median(setupTimes.toSeq) + warmupS),
        "wall_ref" -> median(passes.map(_.wall).toSeq) / refS)

    val checked = warmupTally +: tallies.toSeq
    val attempted = checked.map(_.attempted).sum
    val failed = checked.map(_.failed).sum
    val problems = checked.flatMap(_.problems)
    problems.foreach(p => println(s"[perfbench] problem: $p"))
    println(f"[perfbench] attempted=$attempted failed=$failed fail_ratio=${
      if (attempted == 0) 1.0 else failed.toDouble / attempted}%.4f")
    Json.writeResult(Paths.get(opt("out")), workload, seed, names, attempted, failed,
      problems, metrics)
    spark.stop()
  }
}

/** One measured pass: its wall, its epoch-ms bounds, the executor counters
  * inside them and the outcomes of its operations.
  */
final case class Pass(wall: Double, startMs: Long, endMs: Long, window: Window, tally: Tally)

/** Turns the spans and counters of one traced pass into per-layer metrics. */
object Trace {
  def layerMetrics(rec: Recorder, p: Pass): Seq[(String, Double)] = {
    val pass = p.window
    val spans = rec.spans
    def named(n: String) = spans.filter(_.name == n)
    def wall(n: String) = named(n).map(_.wallS).sum
    def task(n: String) = named(n).map(s => rec.window(s).taskS).sum
    def shuffle(n: String) = named(n).map(s => rec.window(s).shuffleWriteMb).sum
    def jobs(n: String) = named(n).map(s => rec.window(s).jobs).sum.toDouble
    val batches = rec.streamBatches(p.startMs, p.endMs)
    Workloads.instaSteps.flatMap { s =>
      val n = s"insta.$s"
      Seq(s"$n.wall_s" -> wall(n), s"$n.task_s" -> task(n), s"$n.shuffle_mb" -> shuffle(n))
    } ++ Workloads.mlSteps.flatMap { s =>
      val n = s"ml.$s"
      Seq(s"$n.wall_s" -> wall(n), s"$n.task_s" -> task(n), s"$n.jobs" -> jobs(n))
    } ++ Seq(
      "queries.build_s" -> wall("queries.build"),
      "queries.build_jobs" -> jobs("queries.build"),
      "catalyst.plan_s" -> p.tally.planMs / 1e3,
      "exec.wall_s" -> p.wall,
      "exec.task_s" -> pass.taskS,
      "exec.cpu_s" -> pass.cpuS,
      "exec.gc_s" -> pass.gcS,
      "exec.max_task_s" -> pass.maxTaskS,
      "exec.tasks" -> pass.tasks.toDouble,
      "shuffle.write_mb" -> pass.shuffleWriteMb,
      "shuffle.write_rows" -> pass.shuffleWriteRows.toDouble,
      "spill.mb" -> pass.spillMb,
      "scan.input_mb" -> pass.inputMb,
      "layer.persisted" -> rec.persistedPeak.toDouble,
      "layer.cached_mb" -> rec.cachedPeakBytes / 1048576.0
    ) ++ Main.modules.flatMap { m =>
      Seq(s"$m.wall_s" -> wall(m), s"$m.task_s" -> task(m))
    } ++ Seq(
      "streaming.batches" -> batches.size.toDouble,
      "streaming.batch_p50_s" -> Main.median(batches.map(_._1 / 1e3)),
      "streaming.state_rows" -> batches.map(_._2).sum.toDouble)
  }

  /** One JSON line per span: name, start, end, parent, run id, plus its
    * wall, self time and the executor counters inside it.
    */
  def write(rec: Recorder, path: Path, workload: String): Unit = {
    val lines = rec.spans.sortBy(_.startNs).map { s =>
      val w = rec.window(s)
      Json.obj(Seq(
        "run" -> Json.str(rec.runId), "workload" -> Json.str(workload),
        "id" -> s.id.toString, "parent" -> s.parent.toString, "name" -> Json.str(s.name),
        "start_ms" -> s.startMs.toString, "end_ms" -> s.endMs.toString,
        "wall_s" -> Json.num(s.wallS), "self_s" -> Json.num(rec.selfS(s)),
        "task_s" -> Json.num(w.taskS), "jobs" -> w.jobs.toString,
        "shuffle_mb" -> Json.num(w.shuffleWriteMb)))
    }
    Files.createDirectories(path.getParent)
    Files.write(path, lines.asJava)
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  def arr(vs: Seq[String]): String = vs.mkString("[", ", ", "]")

  def writeResult(path: Path, workload: String, seed: Long, names: Seq[String],
                  attempted: Int, failed: Int, problems: Seq[String],
                  metrics: Seq[(String, Double)]): Unit =
    Files.writeString(path, obj(Seq(
      "workload" -> str(workload), "seed" -> seed.toString,
      "operations" -> arr(names.map(str)),
      "attempted" -> attempted.toString, "failed" -> failed.toString,
      "problems" -> arr(problems.map(str)),
      "metrics" -> obj(metrics.map { case (k, v) => k -> num(v) }))))
}
