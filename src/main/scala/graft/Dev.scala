package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** Dev-only main, one subcommand per job:
  *
  *  - `smoke [query sfDir]` checks that `SparkEntry.entry` returns rows
  *    and optionally dumps one query's physical plan, so scan pruning and
  *    join strategy can be eyeballed.
  *  - `plan <what> <dir> [channel]` dumps INTERNAL frames that the
  *    query-level `.explain` cannot show (subtrees hidden behind Layer
  *    persists or per-round localCheckpoints):
  *     - `x242edges` — the kernel kNN edge frame of x242 (the r16
  *       primitive-kernel rewrite lives inside the Layer build, so the
  *       query plan shows only the checkpointed consumer);
  *     - `x283round broadcast|routed|unrouted` — ONE pagerank round join
  *       under the named graph channel, mirroring
  *       [[graft.ops.Graph.pagerankRanks]]'s three channel constructions
  *       so the plans are diffable on a corpus INSIDE the band. The mirror
  *       skips the per-round localCheckpoint so the join itself is
  *       visible; channel SELECTION in production is pinned by the
  *       PlansSpec band-gate law over [[graft.ops.Graph.inBroadcastBand]];
  *     - any declared query by name: the generic before/after channel for
  *       plans/ evidence.
  *  - `prof <query> <sfDir> [reps] [cpus]` runs one query cold (Layer
  *    cleared) per rep and prints, for every stage it ran, task time, CPU,
  *    max task, GC and task count with the owning graft frame — the
  *    breakdown the bench's per-query totals can't show. System
  *    properties: `graft.prof.partitions` (shuffle partitions, default
  *    cpus), `graft.prof.dumpAfterMs=N[,N2,...]` (executor-thread stacks at
  *    those offsets, an in-process jstack) and `graft.prof.sample=1`
  *    (100 ms executor-thread sampling, histogram of the topmost
  *    non-JDK frame at exit).
  *
  * Usage: sbt "runMain graft.Dev smoke [query sfDir]"
  *        tools/scale_run.sh graft.Dev plan <what> <dir> [channel]
  *        tools/scale_run.sh graft.Dev prof <query> <sfDir> [reps] [cpus]
  */
object Dev {
  def main(args: Array[String]): Unit = args.toList match {
    case "smoke" :: rest => smoke(rest)
    case "plan" :: what :: dir :: rest => plan(what, dir, rest.headOption)
    case "prof" :: name :: dir :: rest => prof(name, dir, rest)
    case _ => throw new IllegalArgumentException(
      "usage: Dev smoke [query sfDir] | plan <what> <dir> [channel] | " +
        "prof <query> <sfDir> [reps] [cpus]")
  }

  private def smoke(args: List[String]): Unit = {
    val spark = Sessions.local("8")
    val rows = SparkEntry.entry(spark).collect()
    println(s"[smoke] entry rows=${rows.length}")
    rows.take(5).foreach(r => println(s"[smoke] $r"))
    args match {
      case List(name, dir) =>
        val q = SparkEntry.queries(name)(spark, dir)
        q.explain("formatted")
        println(s"[smoke] $name rows=${q.count()}")
      case _ =>
    }
    spark.stop()
  }

  private def plan(what: String, dir: String, channel: Option[String]): Unit = {
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
    what match {
      case "x242edges" =>
        graft.ext.Similarity.mutualKnnEdges(spark, dir).explain("formatted")
      case "x283round" => x283round(spark, dir, channel.get).explain("formatted")
      case q if SparkEntry.queries.contains(q) =>
        SparkEntry.queries(q)(spark, dir).explain("formatted")
    }
    spark.stop()
  }

  private def x283round(spark: SparkSession, dir: String, channel: String) = {
    val pairs = graft.ext.Associations.copurchasePairs(spark, dir)
    val sym = pairs
      .select(col("a").as("src"), col("b").as("dst"), col("n_ab").as("w"))
      .unionAll(pairs
        .select(col("b").as("src"), col("a").as("dst"), col("n_ab").as("w")))
      .localCheckpoint() // pin the edge frame like partPagerank's Layer
    val out = sym.groupBy("src").agg(sum(col("w")).as("wout"))
    val nodes = sym.select(col("src").as("id")).distinct().localCheckpoint()
    val n = nodes.count()
    println(s"[plandump] corpus=$dir nodes=$n channel=$channel " +
      s"band=(${graft.ops.Graph.HubRoutingMinNodes}, " +
      s"${graft.ops.Graph.GraphBroadcastNodeBudget}] " +
      s"inBand=${graft.ops.Graph.inBroadcastBand(n)}")
    val pr = nodes.withColumn("pr", lit(1000000L / n))
    channel match {
      case "broadcast" =>
        val edgesW = sym.join(broadcast(out), "src")
        edgesW.join(broadcast(pr), col("src") === col("id"))
          .select(col("dst"), expr("(pr * w) div wout").as("c"))
          .groupBy("dst").agg(sum(col("c")).as("s"))
      case "routed" =>
        val hubs = graft.ops.Graph.hubNodes(sym, "src",
          graft.ops.Graph.HubDegreeBudget)
        require(hubs.nonEmpty, "no hubs above the degree budget")
        val edgesW = sym.filter(col("src").isin(hubs: _*))
          .join(broadcast(out.filter(col("src").isin(hubs: _*))), "src")
          .unionAll(sym.filter(!col("src").isin(hubs: _*)).join(out, "src"))
        val eHub = edgesW.filter(col("src").isin(hubs: _*))
        val eRest = edgesW.filter(!col("src").isin(hubs: _*))
        eHub.join(broadcast(pr.filter(col("id").isin(hubs: _*))),
            col("src") === col("id"))
          .unionAll(eRest.join(pr, col("src") === col("id")))
          .select(col("dst"), expr("(pr * w) div wout").as("c"))
          .groupBy("dst").agg(sum(col("c")).as("s"))
      case "unrouted" =>
        val edgesW = sym.join(out, "src")
        edgesW.join(pr, col("src") === col("id"))
          .select(col("dst"), expr("(pr * w) div wout").as("c"))
          .groupBy("dst").agg(sum(col("c")).as("s"))
    }
  }

  private def prof(name: String, dir: String, args: List[String]): Unit = {
    val reps = args.lift(0).map(_.toInt).getOrElse(1)
    val cpus = args.lift(1).getOrElse(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    val spark = Sessions.local(cpus, sys.props.getOrElse("graft.prof.partitions", cpus))
    sys.props.get("graft.prof.dumpAfterMs").foreach { spec =>
      val delays = spec.split(',').map(_.trim.toLong)
      val t = new Thread(() => {
        var prev = 0L
        delays.foreach { d =>
          Thread.sleep(d - prev); prev = d
          println(s"[prof] ==== thread dump at ${d}ms ====")
          Thread.getAllStackTraces.asScala.foreach { case (th, st) =>
            if (th.getName.contains("Executor task launch")) {
              println(s"[prof] thread ${th.getName} state=${th.getState}")
              st.take(14).foreach(f => println(s"[prof]     at $f"))
            }
          }
        }
      })
      t.setDaemon(true); t.start()
    }
    val sampleHist = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    if (sys.props.get("graft.prof.sample").contains("1")) {
      val t = new Thread(() => {
        while (true) {
          Thread.sleep(100)
          Thread.getAllStackTraces.asScala.foreach { case (th, st) =>
            if (th.getName.contains("Executor task launch") && st.nonEmpty) {
              // first frame that is NOT low-level JDK parking/locking
              val f = st.find { fr =>
                val c = fr.getClassName
                !c.startsWith("jdk.") && !c.startsWith("java.") &&
                  !c.startsWith("scala.concurrent") && !c.startsWith("sun.")
              }.map(fr => s"${fr.getClassName.split('.').last}.${fr.getMethodName}")
                .getOrElse(st.head.getClassName + "." + st.head.getMethodName)
              sampleHist.merge(s"${th.getState}:$f", 1, (a, b) => a + b)
            }
          }
        }
      })
      t.setDaemon(true); t.start()
    }
    (1 to reps).foreach { r =>
      Layer.clear(spark) // cold per rep: attribute the whole DAG
      val ((n, wall), m) = Metrics.window(spark) {
        val t0 = System.nanoTime()
        val n = SparkEntry.queries(name)(spark, dir).count()
        (n, (System.nanoTime() - t0) / 1e9)
      }
      println(f"[prof] rep $r $name rows=$n wall=$wall%.2f s")
      println(f"[prof] stages=${m.stages.size} total task=${m.taskMs / 1000.0}%.1f s gc=${m.gcMs / 1000.0}%.1f s deser=${m.deserMs / 1000.0}%.1f s cpu=${m.cpuNs / 1e9}%.1f s")
      val (big, small) = m.stages.partition(_.taskMs >= 100)
      big.foreach { s =>
        val label = if (s.site.nonEmpty) s"${s.name.take(40)} | ${s.site.take(90)}" else s.name.take(110)
        println(f"[prof]   stg ${s.id}%4d task ${s.taskMs / 1000.0}%8.2f s cpu ${s.cpuNs / 1e9}%7.2f maxtask ${s.maxTaskMs / 1000.0}%6.2f gc ${s.gcMs / 1000.0}%5.2f n=${s.tasks}%5d  $label")
      }
      if (small.nonEmpty)
        println(f"[prof]   (+${small.size} stages under 100ms task, sum ${small.map(_.taskMs).sum / 1000.0}%.2f s)")
    }
    if (!sampleHist.isEmpty) {
      println("[prof] ==== sample histogram (100ms samples x executor threads) ====")
      sampleHist.asScala.toSeq.sortBy(-_._2).take(30).foreach { case (k, n) =>
        println(f"[prof]   $n%6d  $k")
      }
    }
    spark.stop()
  }
}
