package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // SPARK_GRAFT_BENCH: "both" (default) runs a WARM pass (shared Layer
    // intermediates amortize across queries — the round-over-round trend
    // line) and then a COLD pass (Layer.clear before every query, so no
    // per-query regression can hide inside another query's warm-up);
    // "warm" / "cold" run just that pass.
    val mode = sys.env.getOrElse("SPARK_GRAFT_BENCH", "both")
    // SPARK_GRAFT_BENCH_BREAK: comma-separated query names forced to throw —
    // lets a local run demonstrate the error marker path end-to-end.
    val break = sys.env.getOrElse("SPARK_GRAFT_BENCH_BREAK", "")
      .split(',').map(_.trim).filter(_.nonEmpty).toSet
    // SPARK_GRAFT_BENCH_ONLY: comma-separated query names — restrict the run
    // for local iteration (empty/unset = all queries, the driver's config).
    val only = sys.env.getOrElse("SPARK_GRAFT_BENCH_ONLY", "")
      .split(',').map(_.trim).filter(_.nonEmpty).toSet
    val spark = Sessions.local(cpus)
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    // Per-query windows of the shared recorder (graft.Metrics), each closed
    // by a listener-bus drain:
    //  - executor task time (executorRunTime, ms): the contention-immune
    //    companion to wall-clock, which on a shared VM conflates co-tenant
    //    noise with plan regressions (the r7 artifact's warm>cold
    //    inversions) — task time only counts cycles THIS query's tasks ran,
    //    so a regression is adjudicable without a quiet-VM re-run;
    //  - shuffle write rows + bytes: the exchange-size signal that
    //    adjudicates plan-shape claims (e.g. a map-side top-k prune vs a
    //    shuffle-everything window) in the artifact itself;
    //  - the longest single task: the STRAGGLER signal a task total cannot
    //    show (a one-key serialization leaves totals near the balanced
    //    plan's while one task IS the stage wall).
    val taskTimes = scala.collection.mutable.LinkedHashMap[String, Long]()
    val shufRecs = scala.collection.mutable.LinkedHashMap[String, Long]()
    val maxTasks = scala.collection.mutable.LinkedHashMap[String, Long]()
    // A failed query records the sentinel -1, never its wall time: a crashed
    // query must be distinguishable from a fast one in the artifact.
    def pass(tag: String, cold: Boolean): Map[String, Double] =
      SparkEntry.queries
        .filter { case (name, _) => only.isEmpty || only.contains(name) }
        .map { case (name, fn) =>
        if (cold) Layer.clear(spark)
        val (secs, m) = Metrics.window(spark) {
          val t0 = System.nanoTime()
          try {
            require(!break.contains(name), s"SPARK_GRAFT_BENCH_BREAK: $name")
            fn(spark, sfDir).count()
            (System.nanoTime() - t0) / 1e9
          } catch {
            case e: Throwable =>
              errors += s"$tag:$name" -> e.toString.take(200).replaceAll("[\"\\\\\\n]", " ")
              -1.0
          }
        }
        taskTimes += s"$tag:$name" -> m.taskMs
        shufRecs += s"$tag:$name" -> m.shuffleWriteRows
        // a failed query's partially-accumulated max task is NOT a
        // measurement — record the same -1 sentinel as its wall so the
        // artifact can't present a crash as a real straggler reading
        maxTasks += s"$tag:$name" -> (if (secs == -1.0) -1L else m.maxTaskMs)
        // stderr progress line per query: a run killed by an external
        // timeout still leaves a per-query trail to find the hotspot
        System.err.println(f"[bench] $tag $name%-24s ${secs}%8.2f s  task ${m.taskMs / 1000.0}%8.2f s  maxtask ${m.maxTaskMs / 1000.0}%7.2f s  shuf ${m.shuffleWriteRows}%10d rows ${m.shuffleWriteBytes / 1048576.0}%8.1f MiB")
        name -> secs
      }
    def fmt(m: Map[String, Double]): String =
      m.map { case (k, v) => s"\"" + k + "\":" + v }.mkString("{", ",", "}")
    val warm = if (mode != "cold") pass("warm", cold = false) else Map.empty[String, Double]
    val cold = if (mode != "warm") pass("cold", cold = true) else Map.empty[String, Double]
    // ---- contention sentinel -------------------------------------------
    // Three CONSTANT-WORK canaries (single-scan aggregates whose task
    // seconds are corpus-determined): if their executor task time inflates
    // vs the committed reference, the pass ran under external CPU
    // contention and its walls are not comparable round-over-round — the
    // r9 driver artifact was exactly such a poisoned pass (a13 0.4 → 6.1
    // task-s for identical work) and only per-query forensics caught it.
    // Reference = min(warm, cold) task seconds in the committed
    // docs/BENCH_DETAIL.json (min, because a prior pass may itself have
    // been contended); a pass flags `contended` when ≥ 2 of 3 canaries
    // exceed 2× their reference. Only meaningful at the committed sf.
    val canaryNames = Seq("a13_small_qty_parts", "a29_supplier_parts", "x141_weighted_repl")
    // Per-(pass, query) reference task seconds from the previously
    // committed same-sf detail. References are PASS-MATCHED (warm vs
    // warm, cold vs cold): the warm pass shares Layers, so a
    // Layer-consumer's warm task can be 100× under its cold task by
    // design — a min(warm, cold) reference would make every such
    // query's cold ratio read as a phantom 100× "regression" (the first
    // full r11 run showed exactly that: x139 cold_ratio 148 with cold
    // task IMPROVED round-over-round). Canaries keep the min() (their
    // warm ≈ cold by construction — single-scan constant work, nothing
    // Layer-shared — and min forgives a contended prior pass).
    val (refWarm, refCold): (Map[String, Double], Map[String, Double]) = {
      val f = java.nio.file.Paths.get("docs/BENCH_DETAIL.json")
      if (!java.nio.file.Files.exists(f)) (Map.empty, Map.empty)
      else {
        val text = new String(java.nio.file.Files.readAllBytes(f), "UTF-8")
        if (!text.contains("\"sf\": \"" + sfDir + "\"")) (Map.empty, Map.empty)
        else {
          // [^{}]* (braces excluded): a gap that admitted '{' let the match
          // start at the enclosing `"queries": {` opener and swallow the
          // FIRST query's values under the key "queries" — that query then
          // had no pass-matched reference every round (r11 advice: a01's
          // warm/cold ratios were permanently null).
          val re = ("\"([A-Za-z0-9_]+)\": \\{[^{}]*\"warm_task_s\": ([0-9.]+|null)," +
            " \"cold_task_s\": ([0-9.]+|null)").r
          val ms = re.findAllMatchIn(text).toSeq
          def side(g: Int) = ms.flatMap(m =>
            if (m.group(g) == "null") None else Some(m.group(1) -> m.group(g).toDouble)).toMap
          (side(2), side(3))
        }
      }
    }
    val canaryRefs: Map[String, Double] =
      canaryNames.flatMap { n =>
        val vals = Seq(refWarm.get(n), refCold.get(n)).flatten
        if (vals.isEmpty) None else Some(n -> vals.min)
      }.toMap
    // task_s ratio vs the committed PASS-MATCHED reference, per query —
    // the raw self-certification signal (task time is contention-DAMPED
    // but not immune: hypervisor steal inflates executorRunTime too, the
    // r10 throttle finding)
    def ratioOf(tag: String, n: String): Option[Double] =
      for {
        ref <- (if (tag == "warm") refWarm else refCold).get(n)
        if ref > 0.05 // sub-50ms refs are noise
        cur <- taskTimes.get(s"$tag:$n")
      } yield cur / 1000.0 / ref
    // Per-query TRUST flag via a rolling median over PASS ORDER (round-11,
    // verdict directive 2): external contention is a WINDOW phenomenon —
    // it inflates every query scheduled inside it — while a genuine plan
    // regression is isolated to its own query. A query's wall/task is
    // trustworthy iff the median ratio of its ±4 pass-order neighbors
    // (itself included) stays ≤ 2×: a real 10× regression in a calm
    // window keeps a ~1× neighborhood median (flagged trusted, so the
    // regression is adjudicable), whereas a throttled stretch drags the
    // whole neighborhood median up (flagged untrusted — the r10
    // three-run forensics, now computed in-artifact).
    def trustFlags(tag: String): Map[String, Boolean] = {
      val order = taskTimes.keys.toSeq
        .filter(_.startsWith(tag + ":")).map(_.stripPrefix(tag + ":"))
      val rs = order.map(n => ratioOf(tag, n))
      order.indices.flatMap { i =>
        val win = (math.max(0, i - 4) to math.min(order.size - 1, i + 4))
          .flatMap(rs)
        if (win.size < 3) None
        else Some(order(i) -> (win.sorted.apply(win.size / 2) <= 2.0))
      }.toMap
    }
    def canaryRatios(tag: String): Map[String, Double] =
      canaryNames.flatMap { n =>
        for {
          ref <- canaryRefs.get(n) if ref > 0
          cur <- taskTimes.get(s"$tag:$n")
        } yield n -> (cur / 1000.0 / ref)
      }.toMap
    // null when unjudgeable (no reference / restricted run missing canaries)
    def contended(tag: String): String = {
      val rs = canaryRatios(tag)
      if (rs.size < 2) "null" else (rs.values.count(_ > 2.0) * 2 >= rs.size + 1).toString
    }
    def canaryJson(tag: String): String =
      canaryRatios(tag).map { case (n, r) =>
        s"""\"$n\":{\"ref_task_s\":${f"${canaryRefs(n)}%.3f"},\"task_s\":${f"${taskTimes(s"$tag:$n") / 1000.0}%.3f"},\"ratio\":${f"$r%.2f"}}"""
      }.mkString("{", ",", "}")
    // Failed (-1) entries are excluded from the totals so a crash can only
    // make the totals look *incomplete*, never faster.
    def total(m: Map[String, Double]): Double = m.values.filter(_ >= 0).sum
    val primary = if (warm.nonEmpty) warm else cold
    val errJson = errors.map { case (k, v) => s"\"" + k + "\":\"" + v + "\"" }.mkString("{", ",", "}")
    // Per-query detail goes out as MANY SHORT LINES (~25 queries each,
    // tagged per_query_part with pass + part index), then a short
    // totals-only line LAST. The driver keeps the TAIL of long output
    // (BENCH_r03/r04 lost front-printed totals to truncation; r05's single
    // packed detail line lost the warm map entirely), so every line must
    // individually be short enough to survive and the headline scalars
    // must be the final print.
    def emitParts(pass: String, m: Map[String, Double]): Unit = {
      val chunks = m.toSeq.grouped(25).toSeq
      chunks.zipWithIndex.foreach { case (chunk, i) =>
        println(s"""{"detail":"per_query_part","pass":"$pass","part":${i + 1},"n_parts":${chunks.size},"sf":"$sfDir","queries":${fmt(chunk.toMap)}}""")
      }
    }
    emitParts("warm", warm)
    emitParts("cold", cold)
    val trustW = trustFlags("warm")
    val trustC = trustFlags("cold")
    // ---- in-run retry of untrusted queries (round-13, verdict #3) ----
    // Contention is a transient window phenomenon: by the time both
    // passes have drained, the stretch that poisoned a query's wall has
    // usually passed (the r12 driver artifact carried 10 warm / 18 cold
    // untrusted rows that the builder's later clean rerun proved
    // environmental). So the bench itself now re-runs each self-flagged
    // untrusted query ONCE after the passes, with its pass semantics
    // (cold: Layer cleared first; warm: one unmeasured run rebuilds the
    // query's own Layer deps, then the measured run), and records the
    // retry BESIDE the original — never replacing it: the artifact keeps
    // the full forensic trail (original task_s + ratio, retry task_s +
    // ratio) and a query counts resolved when its retry ratio clears the
    // same 2× trust threshold. Retries are judged by their OWN ratio
    // (no neighborhood median — a post-suite retry has no pass-order
    // neighbors). Disable with SPARK_GRAFT_BENCH_RETRY=0.
    val retryTasks = scala.collection.mutable.LinkedHashMap[String, Long]()
    val retryOn = sys.env.getOrElse("SPARK_GRAFT_BENCH_RETRY", "1") != "0"
    // SPARK_GRAFT_BENCH_FORCE_RETRY: comma-separated names treated as
    // untrusted — demonstrates the retry path on a calm box (the
    // BENCH_BREAK convention for the error path)
    val forceRetry = sys.env.getOrElse("SPARK_GRAFT_BENCH_FORCE_RETRY", "")
      .split(',').map(_.trim).filter(_.nonEmpty).toSet
    def retryUntrusted(tag: String, flags: Map[String, Boolean]): Unit = {
      val order = taskTimes.keys.toSeq
        .filter(_.startsWith(tag + ":")).map(_.stripPrefix(tag + ":"))
      order.filter(n => flags.get(n).contains(false) || forceRetry.contains(n)).foreach { n =>
        SparkEntry.queries.get(n).foreach { fn =>
          try {
            if (tag == "cold") Layer.clear(spark)
            else fn(spark, sfDir).count() // unmeasured: warms this query's Layers
            val (wall, m) = Metrics.window(spark) {
              val t0 = System.nanoTime()
              fn(spark, sfDir).count()
              (System.nanoTime() - t0) / 1e9
            }
            retryTasks += s"$tag:$n" -> m.taskMs
            System.err.println(f"[bench] retry:$tag $n%-24s $wall%8.2f s  task ${m.taskMs / 1000.0}%8.2f s")
          } catch {
            case e: Throwable =>
              errors += s"retry:$tag:$n" -> e.toString.take(200).replaceAll("[\"\\\\\\n]", " ")
          }
        }
      }
    }
    if (retryOn) { retryUntrusted("warm", trustW); retryUntrusted("cold", trustC) }
    def retryRatioOf(tag: String, n: String): Option[Double] =
      for {
        ref <- (if (tag == "warm") refWarm else refCold).get(n)
        if ref > 0.05
        cur <- retryTasks.get(s"$tag:$n")
      } yield cur / 1000.0 / ref
    // unresolved = still untrusted after the retry pass: flagged, and the
    // retry either failed, has no reference, or still reads > 2×
    def unresolved(tag: String, flags: Map[String, Boolean]): Int =
      flags.count { case (n, ok) =>
        !ok && !retryRatioOf(tag, n).exists(_ <= 2.0)
      }
    // Builder-owned per-query table: the driver artifact keeps only the
    // TAIL of stdout (~31 queries survive), so the full per-query
    // warm/cold map also lands in-repo as docs/BENCH_DETAIL.json — one
    // query per line, name-sorted, round-stamped (round = latest driver
    // BENCH_r{N}.json + 1) — committed each round for diffable history.
    // Skipped for restricted runs: a partial map must never overwrite the
    // full table.
    if (only.isEmpty && break.isEmpty) {
      val round = Option(new java.io.File(".").listFiles()).toSeq.flatten
        .flatMap(f => "^BENCH_r(\\d+)\\.json$".r.findFirstMatchIn(f.getName)
          .map(_.group(1).toInt))
        .maxOption.map(_ + 1).getOrElse(0)
      val names = (warm.keySet ++ cold.keySet).toSeq.sorted
      def cell(m: Map[String, Double], n: String): String =
        m.get(n).map(v => f"$v%.3f").getOrElse("null")
      // task_s columns: executor task time per query (see the listener
      // above) — the contention-immune signal the wall columns lack
      def taskCell(tag: String, n: String): String =
        taskTimes.get(s"$tag:$n").map(v => f"${v / 1000.0}%.3f").getOrElse("null")
      // shuffle write rows per query (cold pass — warm shares Layers, so
      // cold is the per-plan number): the exchange-volume evidence column
      def shufCell(tag: String, n: String): String =
        shufRecs.get(s"$tag:$n").map(_.toString).getOrElse("null")
      // longest single task (cold pass): the straggler column — a
      // one-key serialization leaves totals near the balanced plan's
      // while one task IS the stage wall (the r12 x275 finding). The
      // failed-query sentinel (-1) emits as null: a crash's partial
      // accumulation is not a measurement (r12 ADVICE).
      def maxTaskCell(tag: String, n: String): String =
        maxTasks.get(s"$tag:$n").filter(_ >= 0L)
          .map(v => f"${v / 1000.0}%.3f").getOrElse("null")
      def ratioCell(tag: String, n: String): String =
        ratioOf(tag, n).map(r => f"$r%.2f").getOrElse("null")
      def trustCell(m: Map[String, Boolean], n: String): String =
        m.get(n).map(_.toString).getOrElse("null")
      // untrusted queries carry their quiet-window retry beside the
      // original (round-13): the flagged measurement stays in the
      // artifact, the retry adjudicates it
      def retryCells(n: String): String =
        Seq("warm", "cold").map { tag =>
          retryTasks.get(s"$tag:$n").map { v =>
            s""", "${tag}_retry_task_s": ${f"${v / 1000.0}%.3f"}, "${tag}_retry_ratio": ${retryRatioOf(tag, n).map(r => f"$r%.2f").getOrElse("null")}"""
          }.getOrElse("")
        }.mkString
      val lines = names.map(n =>
        s"""    "$n": {"warm": ${cell(warm, n)}, "cold": ${cell(cold, n)}, "warm_task_s": ${taskCell("warm", n)}, "cold_task_s": ${taskCell("cold", n)}, "cold_max_task_s": ${maxTaskCell("cold", n)}, "cold_shuffle_rows": ${shufCell("cold", n)}, "warm_ratio": ${ratioCell("warm", n)}, "cold_ratio": ${ratioCell("cold", n)}, "warm_trusted": ${trustCell(trustW, n)}, "cold_trusted": ${trustCell(trustC, n)}${retryCells(n)}}""")
      val body =
        s"""{
           |  "round": $round,
           |  "generated_unix": ${System.currentTimeMillis() / 1000},
           |  "sf": "$sfDir",
           |  "cpus": $cpus,
           |  "mode": "$mode",
           |  "pass_semantics": "warm pass runs FIRST (shared Layers kept), cold second (Layer cleared per query, codegen/JIT already hot). A query whose warm wall exceeds its cold wall with warm task time also inflated is paying FIRST-EXECUTION cost (Janino compile + C2 warm-up), not cache pressure: r9 isolated-run proof on x187 (4.79s warm / 0.61s cold with only 2 queries and zero shared layers - the pattern is pass-order, not context).",
           |  "n_queries": ${names.size},
           |  "warm_total": ${f"${total(warm)}%.3f"},
           |  "cold_total": ${f"${total(cold)}%.3f"},
           |  "canary_semantics": "constant-work sentinels vs min(warm,cold) task seconds in the previously committed detail; a pass with a majority of canaries over 2x ran under external CPU contention and its walls must not be compared round-over-round (the r9 poisoned-warm lesson). null = no same-sf reference.",
           |  "count_semantics": "the bench action is .count(): Catalyst prunes columns the count does not read, which can legitimately remove a Window/Project a query exists to compute (x99's row_number: 1-16 shuffle rows here because ColumnPruning drops the unused window, leaving a scan-side partial count). Such rows measure the count-consumer's plan, not the materialization - the Verify path (full parquet dump) is where those operators' real work is exercised and hash-checked.",
           |  "trust_semantics": "per-query self-certification (round-11): X_ratio = this pass's task_s / the SAME pass's task_s in the previously committed same-sf detail (PASS-MATCHED - warm vs warm, cold vs cold; a min(warm,cold) reference would read every Layer-consumer's cold as a phantom 100x regression since its warm shares Layers by design). X_trusted = the rolling MEDIAN ratio of the query's +-4 pass-order NEIGHBORS stayed <= 2x; contention is a window phenomenon, so an untrusted flag marks a throttled stretch whose walls must not be compared round-over-round, while a genuine single-query regression keeps a calm neighborhood median and stays trusted (= adjudicable). A query with no own reference (X_ratio null, e.g. new this round) still gets a trust flag from its neighborhood; X_trusted is null only when fewer than 3 neighbors have ratios.",
           |  "untrusted_warm": ${trustW.valuesIterator.count(_ == false)},
           |  "untrusted_cold": ${trustC.valuesIterator.count(_ == false)},
           |  "retry_semantics": "round-13: each untrusted query re-ran ONCE after both passes drained (cold: Layer cleared; warm: one unmeasured run rebuilds its Layers, then the measured run). The retry lands BESIDE the original as X_retry_task_s / X_retry_ratio - the flagged measurement is never replaced. unresolved_X counts queries still > 2x (or unjudgeable) on retry: those are real regressions or persistent contention, not transient noise.",
           |  "retried_warm": ${retryTasks.keysIterator.count(_.startsWith("warm:"))},
           |  "retried_cold": ${retryTasks.keysIterator.count(_.startsWith("cold:"))},
           |  "unresolved_warm": ${unresolved("warm", trustW)},
           |  "unresolved_cold": ${unresolved("cold", trustC)},
           |  "warm_canaries": ${canaryJson("warm")},
           |  "cold_canaries": ${canaryJson("cold")},
           |  "warm_contended": ${contended("warm")},
           |  "cold_contended": ${contended("cold")},
           |  "n_errors": ${errors.size},
           |  "queries": {
           |${lines.mkString(",\n")}
           |  }
           |}
           |""".stripMargin
      val out = java.nio.file.Paths.get("docs/BENCH_DETAIL.json")
      java.nio.file.Files.createDirectories(out.getParent)
      java.nio.file.Files.write(out, body.getBytes("UTF-8"))
    }
    def taskTotal(tag: String): Double =
      taskTimes.collect { case (k, v) if k.startsWith(tag + ":") => v }.sum / 1000.0
    println(s"""{"metric":"total","value":${total(primary)},"unit":"sec","sf":"$sfDir","warm_total":${total(warm)},"cold_total":${total(cold)},"warm_task_total":${taskTotal("warm")},"cold_task_total":${taskTotal("cold")},"warm_contended":${contended("warm")},"cold_contended":${contended("cold")},"untrusted_warm":${trustW.valuesIterator.count(_ == false)},"untrusted_cold":${trustC.valuesIterator.count(_ == false)},"unresolved_warm":${unresolved("warm", trustW)},"unresolved_cold":${unresolved("cold", trustC)},"n_queries":${primary.size},"n_errors":${errors.size},"errors":$errJson}""")
    // rc stays 0 even on query errors: the driver must always collect the
    // artifact; n_errors/errors in the tail line is the explicit signal.
    spark.stop()
  }
}
