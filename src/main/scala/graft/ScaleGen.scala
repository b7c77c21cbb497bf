package graft

import org.apache.spark.sql.functions._

/** Scaling-measurement corpus generator (SCALE.md): writes a synthetic
  * `documents` / `lineitem` / `part` / `events` dir shaped like the
  * driver's sf0.1 testdata (same schemas, domains, and distributions —
  * 31-word vocabulary, 10–100 uniform token lengths, 40/15/15/15/15 lang
  * mix, planted exact-dup and near-dup families at the observed ~0.2–0.3%
  * rates, zipf-via-log2 partkey skew, 30-day event span) at an integer
  * size multiplier, so the scale-critical operators can be timed at 1×
  * and N× of the SAME generative process and a growth exponent fitted.
  * Everything is hash-derived from the row id — no RNG, reruns are
  * byte-identical. Usage: `runMain graft.ScaleGen <outDir> <multiplier>`.
  */
object ScaleGen {

  val vocab: Seq[String] = Seq(
    "a", "agg", "batch", "big", "column", "customer", "data", "dup", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window")

  private val usage =
    "usage: ScaleGen <outDir> <multiplier> [dupBoost] [fixed|heaps] [skew] [hub] [wideK] " +
      "(trailing args are recognized BY VALUE — an integer is dupBoost, " +
      "fixed/heaps is vocabMode, skew is keyMode, hub is graphMode, " +
      "wide<K> is the node-domain dial — so `ScaleGen out 10 heaps` or " +
      "`ScaleGen out 20 hub wide10` works without passing the default dupBoost)"

  def main(args: Array[String]): Unit = {
    // 2 positional + up to FOUR recognized trailing options (dupBoost,
    // fixed|heaps, skew, hub) — r14 ADVICE: the old <=5 bound rejected
    // `ScaleGen out 10 5 heaps skew hub` even though the by-value
    // parsing composes all four
    require(args.length >= 2 && args.length <= 7, usage)
    val out = args(0)
    val m = args(1).toInt
    // Trailing args parse BY VALUE, not by position: `heaps` in slot 3
    // used to hit dupBoost's toInt with an unhelpful NumberFormatException
    // even though the intent was unambiguous. An integer is dupBoost, a
    // mode word is vocabMode, anything else fails with the usage string.
    // dupBoost k multiplies the planted exact/near-dup RATE by ~k (the
    // moduli divide by k): the SCALE.md round-9 knob for pinning the
    // pair family's behavior on a dup-heavy corpus. Default 1 keeps the
    // r7/r8 corpora byte-identical.
    // vocabMode "heaps" (round-10): synthetic word ids drawn from a
    // vocabulary of ⌈600·√m⌉ types, so V(tokens) ≈ K·n^0.5 — the
    // Heaps-law regime of a real web corpus, where sub-cap shingles
    // dominate and the EXACT near-dup channels are the right route.
    // The default ("fixed") keeps every prior corpus byte-identical;
    // heaps mode exists to measure the x269 router's OTHER direction
    // at scale (the saturated direction is the default corpus itself).
    // keyMode "skew" (round-12): a POWER-LAW key profile for the
    // events/orders USER grain — user 0 owns ~20% of all events AND all
    // orders (so both the PIT fact side and its version/change side
    // concentrate on one key), with the remaining mass Zipf(1)-ish over
    // the rest of the domain via the inverse-CDF trick k = ⌊N^u⌋. This is
    // the corpus r11's verdict says ScaleGen could not exhibit: per-key
    // grain GROWS with m (hot key ≈ 20k·m events + 30k·m orders), so a
    // one-task-per-key plan (x275's single window) serializes while a
    // bounded-grain plan (x278 / the routed x281) stays flat. Default
    // keeps every prior corpus byte-identical.
    // graphMode "hub" (round-13): a POWER-LAW DEGREE HUB in the entity
    // graphs — part 0 receives 20% of all lineitem rows (so the
    // co-purchase graph x200/x231 peel/propagate over grows a star
    // center whose degree ≈ the whole part domain), the rest Zipf(1)
    // via the same inverse-CDF draw; and nation 0 receives 20% of all
    // customers (so the x110/x241 trade graph's fact→edge aggregate
    // concentrates on one src nation). This is the corpus r12's verdict
    // says the iterative family was never measured under: the
    // co-purchase rounds shuffle on NODE id, so one hub node is the
    // same one-key-serializes shape x275 exhibited on users. Default
    // keeps every prior corpus byte-identical.
    // nodeDial "wide<K>" (round-15, r14 verdict #1): multiplies the PART
    // key domain by K (20000·m → 20000·m·K) and switches l_partkey to a
    // TEMPLATE co-occurrence draw — each order's 4 parts come from a
    // shared basket template t = l_orderkey mod T (T = nOrd/4, so every
    // template recurs in 4 orders and its 6 pairs clear the co-purchase
    // support-≥2 bar), with the template parts hashed over the widened
    // domain. A uniform draw over a widened domain would produce NO
    // repeated pairs (the graph would collapse, not grow); the template
    // draw grows the NODE set with the domain while fact rows stay at
    // the multiplier's budget — e.g. `20 hub wide10` yields a ~2 M-node
    // co-purchase graph (4·T draws into a 4 M domain, ≈ (1−e^{-0.75})·4 M
    // occupied) from only 12 M lineitem rows, crossing BOTH scale
    // thresholds the r14 floor identified: the per-round state frame
    // (~16 B/node) is beyond Spark's 10 MB auto-broadcast, so the
    // rank/alive joins are REAL node-keyed exchanges, and with `hub` the
    // flipped lines (25% in wide mode) give part 0 a ≥1 M-edge adjacency
    // — above HubDegreeBudget — so the routed channels finally execute
    // in the band their premise assumes. Default absent: every prior
    // corpus stays byte-identical.
    var dupBoost = Option.empty[Int]
    var vocabModeArg = Option.empty[String]
    var keyModeArg = Option.empty[String]
    var graphModeArg = Option.empty[String]
    var wideArg = Option.empty[Int]
    val WideRe = "^wide(\\d+)$".r
    args.drop(2).foreach {
      case v @ ("fixed" | "heaps") =>
        require(vocabModeArg.isEmpty, s"vocabMode given twice — $usage")
        vocabModeArg = Some(v)
      case v @ "skew" =>
        require(keyModeArg.isEmpty, s"keyMode given twice — $usage")
        keyModeArg = Some(v)
      case v @ "hub" =>
        require(graphModeArg.isEmpty, s"graphMode given twice — $usage")
        graphModeArg = Some(v)
      case WideRe(k) =>
        require(wideArg.isEmpty, s"wide given twice — $usage")
        wideArg = Some(k.toInt)
      case v if v.toIntOption.isDefined =>
        require(dupBoost.isEmpty, s"dupBoost given twice — $usage")
        dupBoost = v.toIntOption
      case other => throw new IllegalArgumentException(
        s"unrecognized argument '$other' — $usage")
    }
    val vocabMode = vocabModeArg.getOrElse("fixed")
    val skewKeys = keyModeArg.isDefined
    val hubGraph = graphModeArg.isDefined
    val wide = wideArg.getOrElse(1)
    require(wide >= 1 && wide <= 1000, s"wide $wide out of range 1..1000 — $usage")
    require(dupBoost.forall(b => b >= 1 && b <= 100),
      s"dupBoost ${dupBoost.get} out of range 1..100 — $usage")
    val boost = dupBoost.getOrElse(1)
    val exactMod = math.max(2, 625 / boost)
    val nearMod = math.max(3, 400 / boost)
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"), "32")

    val vocabCol = array(vocab.map(lit): _*)

    // skew keyMode's draw, hash-derived like everything else: 20% of ids
    // hit key 0 (the hot user); the rest land on ⌊(domain−1)^u⌋ with u
    // uniform in [0,1) — the Zipf(1) inverse CDF (P(k) ∝ 1/k up to the
    // log-normalizer), so the tail itself is power-law, not uniform.
    // seedSel/seedU keep the hot-or-not coin independent of the rank draw.
    def skewedKey(seedSel: Int, seedU: Int, domain: Long) =
      when(pmod(hash(col("id"), lit(seedSel)), lit(100)) < 20, lit(0L))
        .otherwise(least(lit(domain - 1),
          floor(pow(lit((domain - 1).toDouble),
            pmod(hash(col("id"), lit(seedU)), lit(1000000L)).cast("double")
              / 1000000.0)).cast("long")))

    // documents: text of 10–100 tokens from the 31-word vocab; one exact
    // copy per 625 ids (the observed 8-groups-per-5000), one near-dup
    // (same prefix, one appended token) per 400 ids
    val nDocs = 5000L * m
    val docs = spark.range(nDocs)
      .withColumn("cid",
        when(col("id") % exactMod === 1 || col("id") % nearMod === 2, col("id") - 1)
          .otherwise(col("id")))
      .withColumn("n_tok", (abs(hash(col("cid"), lit(1))) % 91 + 10).cast("int"))
      .withColumn("body", concat_ws(" ",
        transform(sequence(lit(1), col("n_tok")),
          i =>
            if (vocabMode == "heaps")
              concat(lit("w"), pmod(hash(col("cid"), i),
                lit(math.ceil(600.0 * math.sqrt(m.toDouble)).toLong)))
            else
              element_at(vocabCol, (abs(hash(col("cid"), i)) % 31 + 1).cast("int")))))
      .withColumn("text",
        when(col("id") % nearMod === 2, concat(col("body"), lit(" dup")))
          .otherwise(col("body")))
      .select(
        col("id").as("doc_id"),
        col("text"),
        element_at(array(
          (Seq.fill(8)(lit("en")) ++
            Seq("de", "es", "fr", "zh").flatMap(l => Seq.fill(3)(lit(l)))): _*),
          (pmod(hash(col("cid"), lit(2)), lit(20)) + 1).cast("int")).as("lang"),
        concat(lit("src"), pmod(col("id"), lit(20))).as("source"),
        length(col("text")).as("n_chars"))
    // near-dup partners must share a lang block: lang keys on cid
    docs.coalesce(4).write.mode("overwrite").parquet(s"$out/documents.parquet")

    // lineitem: partkey uniform over the scaled domain (k = floor(log2)
    // gives the zipf bucket sizes x45/x46 exercise), quantity 1–50
    val nLi = 600000L * m
    val partDomain = 20000L * m * wide
    val nOrdKeys = 150000L * m
    // wide nodeDial: template co-occurrence (class comment at the arg
    // parse) — order o's slot-s part is hash(o mod T, s) over the
    // widened domain; every template recurs in 4 orders, so its 6 pairs
    // clear the support-≥2 co-purchase bar and the graph's node set
    // grows with the DOMAIN, not the fact volume. hub flips 25% of
    // lines to part 0 (per-line coin independent of the template), the
    // star center whose adjacency spans ~half the node set.
    val templatePart = pmod(hash(
      pmod(pmod(col("id"), lit(nOrdKeys)), lit(math.max(1L, nOrdKeys / 4))),
      floor(col("id") / lit(nOrdKeys)).cast("int"), lit(37)), lit(partDomain))
    spark.range(nLi).select(
        pmod(col("id"), lit(nOrdKeys)).as("l_orderkey"),
        // graphMode hub (without wide): part 0 on 20% of lines, Zipf
        // tail elsewhere — the co-purchase star center whose degree
        // grows with the domain
        (if (wide > 1 && hubGraph)
           when(pmod(hash(col("id"), lit(31)), lit(100)) < 25, lit(0L))
             .otherwise(templatePart)
         else if (wide > 1) templatePart
         else if (hubGraph) skewedKey(3, 103, partDomain)
         else pmod(hash(col("id"), lit(3)), lit(partDomain))).as("l_partkey"),
        pmod(hash(col("id"), lit(4)), lit(2000L * m)).as("l_suppkey"),
        (pmod(col("id"), lit(4)) + 1).cast("int").as("l_linenumber"),
        (pmod(hash(col("id"), lit(5)), lit(50)) + 1).cast("double").as("l_quantity"),
        round(pmod(hash(col("id"), lit(6)), lit(9000000)) / 100.0 + 1000.0, 2).as("l_extendedprice"),
        (pmod(hash(col("id"), lit(7)), lit(11)) / 100.0).as("l_discount"),
        (pmod(hash(col("id"), lit(8)), lit(9)) / 100.0).as("l_tax"),
        element_at(array(lit("A"), lit("N"), lit("R")),
          (pmod(hash(col("id"), lit(9)), lit(3)) + 1).cast("int")).as("l_returnflag"),
        element_at(array(lit("O"), lit("F")),
          (pmod(hash(col("id"), lit(10)), lit(2)) + 1).cast("int")).as("l_linestatus"),
        timestamp_micros(lit(1704067200000000L) +
          pmod(hash(col("id"), lit(11)), lit(86400000000L * 365))).as("l_shipdate"))
      .coalesce(16).write.mode("overwrite").parquet(s"$out/lineitem.parquet")

    spark.range(partDomain)
      .select(col("id").as("p_partkey"),
        concat(lit("part"), col("id")).as("p_name"),
        // 25-value brand domain like the testdata (Brand#1..25), hash-
        // derived so the x229 preference graph stays k=25 at every m
        concat(lit("Brand#"),
          (pmod(hash(col("id"), lit(12)), lit(25)) + 1).cast("string"))
          .as("p_brand"))
      .coalesce(4).write.mode("overwrite").parquet(s"$out/part.parquet")

    // events: 30-day span, user domain 1500·m, five types, two-decimal value
    val nEv = 100000L * m
    spark.range(nEv).select(
        col("id").as("event_id"),
        timestamp_micros(lit(1704067200000000L) +
          pmod(hash(col("id"), lit(12)), lit(86400000000L * 30))).as("ts"),
        (if (skewKeys) skewedKey(13, 113, 1500L * m)
         else pmod(hash(col("id"), lit(13)), lit(1500L * m))).as("user_id"),
        element_at(array(lit("click"), lit("view"), lit("purchase"),
          lit("signup"), lit("error")),
          (pmod(hash(col("id"), lit(14)), lit(5)) + 1).cast("int")).as("event_type"),
        round(pmod(hash(col("id"), lit(15)), lit(56021)) / 100.0, 2).as("value"),
        concat(lit("{\"k\": "), pmod(hash(col("id"), lit(16)), lit(100)), lit("}")).as("props"))
      .coalesce(8).write.mode("overwrite").parquet(s"$out/events.parquet")

    // orders: 150k·m rows over a 15k·m customer domain (sf0.1's 10
    // orders/customer), 3-year day span, totalprice 1k–500k — the shape
    // the global-ranking family (a35 Gini, a36 RFM, x177 k-means)
    // reduces to its customer-grain aggregate
    val nOrd = 150000L * m
    spark.range(nOrd).select(
        col("id").as("o_orderkey"),
        // skew keyMode draws o_custkey from the EVENTS user domain
        // (1500·m, not 15000·m): the hot key must be hot on BOTH the PIT
        // fact side and its version side, and the tail keys must actually
        // collide across the two tables for per-key history to grow in m
        (if (skewKeys) skewedKey(18, 118, 1500L * m)
         else pmod(hash(col("id"), lit(18)), lit(15000L * m))).as("o_custkey"),
        timestamp_micros(lit(1704067200000000L) +
          pmod(hash(col("id"), lit(19)), lit(86400000000L * 1095))).as("o_orderdate"),
        round(pmod(hash(col("id"), lit(20)), lit(49900000)) / 100.0 + 1000.0, 2)
          .as("o_totalprice"),
        // 3-value status like the testdata (F/O/P near-uniform), hash-
        // derived — added for the KMV sketch family (x255); all prior
        // columns are value-identical to the r8/r9 corpora
        element_at(array(lit("F"), lit("O"), lit("P")),
          (pmod(hash(col("id"), lit(21)), lit(3)) + 1).cast("int"))
          .as("o_orderstatus"),
        // 5-value priority like the testdata (TPC-H domain, near-uniform),
        // hash-derived — added round-11 so x275's PIT join enters the
        // 1×/10×/30× protocol; all prior columns stay value-identical
        element_at(array(lit("1-URGENT"), lit("2-HIGH"), lit("3-MEDIUM"),
          lit("4-NOT SPECIFIED"), lit("5-LOW")),
          (pmod(hash(col("id"), lit(22)), lit(5)) + 1).cast("int"))
          .as("o_orderpriority"))
      .coalesce(8).write.mode("overwrite").parquet(s"$out/orders.parquet")

    // dimension tables for the trade-graph family (x110/x136/x241 join
    // lineitem/orders through customer/supplier to nation) — absent until
    // round 12, which is why the iterative graph family had no scale
    // rows. Same schemas/dtypes as the driver testdata; nationkey
    // hash-derived over the fixed 25-nation domain so the GRAPH stays
    // 25 nodes at every m (the trade graph's scale axis is the FACT
    // volume aggregated into edges, not the node count — exactly the
    // production shape of an entity graph built from events).
    // customer covers the plain o_custkey domain (15000·m); supplier
    // covers l_suppkey (2000·m). region: the fixed 5.
    spark.range(25).select(
        col("id").cast("int").as("n_nationkey"),
        concat(lit("nation"), col("id")).as("n_name"),
        pmod(col("id"), lit(5)).cast("int").as("n_regionkey"))
      .coalesce(1).write.mode("overwrite").parquet(s"$out/nation.parquet")
    spark.range(5).select(
        col("id").cast("int").as("r_regionkey"),
        concat(lit("region"), col("id")).as("r_name"))
      .coalesce(1).write.mode("overwrite").parquet(s"$out/region.parquet")
    spark.range(15000L * m).select(
        col("id").as("c_custkey"),
        concat(lit("cust"), col("id")).as("c_name"),
        // graphMode hub: nation 0 holds 20% of customers — the trade
        // graph's fact→edge aggregate concentrates on one src nation
        (if (hubGraph) skewedKey(23, 223, 25).cast("int")
         else pmod(hash(col("id"), lit(23)), lit(25)).cast("int")).as("c_nationkey"),
        round(pmod(hash(col("id"), lit(24)), lit(1100000)) / 100.0 - 1000.0, 2)
          .as("c_acctbal"),
        element_at(array(lit("AUTOMOBILE"), lit("BUILDING"), lit("FURNITURE"),
          lit("HOUSEHOLD"), lit("MACHINERY")),
          (pmod(hash(col("id"), lit(25)), lit(5)) + 1).cast("int")).as("c_mktsegment"))
      .coalesce(4).write.mode("overwrite").parquet(s"$out/customer.parquet")
    spark.range(2000L * m).select(
        col("id").as("s_suppkey"),
        concat(lit("supp"), col("id")).as("s_name"),
        pmod(hash(col("id"), lit(26)), lit(25)).cast("int").as("s_nationkey"),
        round(pmod(hash(col("id"), lit(27)), lit(1100000)) / 100.0 - 1000.0, 2)
          .as("s_acctbal"))
      .coalesce(2).write.mode("overwrite").parquet(s"$out/supplier.parquet")

    // embeddings: 64-dim float vectors in [-1, 1), hash-derived per
    // (vec_id, dim); 10 labels — the shape x148's covariance pass and the
    // similarity family consume (2 000·m matches sf0.1's 2 000 at 1×)
    val nVec = 2000L * m
    spark.range(nVec).select(
        col("id").as("vec_id"),
        transform(sequence(lit(0), lit(63)),
          i => ((pmod(hash(col("id"), i, lit(17)), lit(2000)) - 1000) / 1000.0)
            .cast("float")).as("embedding"),
        pmod(col("id"), lit(10)).cast("int").as("label"))
      .coalesce(4).write.mode("overwrite").parquet(s"$out/embeddings.parquet")

    println(s"[scalegen] wrote ${nDocs} docs / ${nLi} lineitem / ${partDomain} part / ${nEv} events / ${nOrd} orders / ${nVec} embeddings to $out")
    spark.stop()
  }
}
