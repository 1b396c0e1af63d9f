package graft
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev tool: re-measures the VANILLA-Spark baseline twins of the four
  * headline bench queries in the BASELINE.md environment (local[4],
  * shuffle.partitions=4, UTC, nanosAsLong — idiomatic Spark, no graft
  * operators or hints), reporting warm best-of-3 under BOTH actions:
  * `count()` (the round-1 measurement, which lets Catalyst prune agg
  * expressions and eliminate final sorts) and a noop-sink write (full
  * materialization of every output column). BASELINE.md records both;
  * Bench and the baseline must always be compared under the SAME action.
  */
object BaselineBench {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("vanilla-baseline")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def li   = spark.read.parquet(s"$dir/lineitem.parquet")
    def cust = spark.read.parquet(s"$dir/customer.parquet")
    def ord  = spark.read.parquet(s"$dir/orders.parquet")
    def ev = {
      val raw = spark.read.parquet(s"$dir/events.parquet")
      raw.schema("ts").dataType match { // fixture generations differ: ns-as-long vs native µs
        case org.apache.spark.sql.types.LongType =>
          raw.withColumn("ts", expr("timestamp_micros(ts DIV 1000)"))
        case _ => raw
      }
    }
    val queries: Seq[(String, () => DataFrame)] = Seq(
      "q1_pricing_summary" -> (() => li
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(sum("l_quantity").as("sum_qty"),
          sum("l_extendedprice").as("sum_base_price"),
          sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("sum_disc_price"),
          avg("l_quantity").as("avg_qty"), avg("l_extendedprice").as("avg_price"),
          avg("l_discount").as("avg_disc"), count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")),
      "q3_join_agg" -> (() => {
        val cutoff = lit("1995-03-15").cast("timestamp")
        cust.filter(col("c_mktsegment") === "BUILDING")
          .join(ord, col("c_custkey") === col("o_custkey"))
          .filter(col("o_orderdate") < cutoff)
          .join(li, col("o_orderkey") === col("l_orderkey"))
          .filter(col("l_shipdate") > cutoff)
          .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
          .agg(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
          .orderBy(col("revenue").desc, col("l_orderkey")).limit(10)
      }),
      "window_topk" -> (() => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id")).orderBy(col("value").desc, col("event_id"))
        ev.withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
          .select(col("user_id"), col("event_id"), col("value"), col("rn"))
          .orderBy("user_id", "rn")
      }),
      "tumbling_window" -> (() => ev
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), avg("value").as("avg_value"))
        .orderBy(col("window").getField("start"), col("event_type"))))
    val rows = for ((name, q) <- queries) yield {
      val c = Bench.warmBest("baseline", name)(q().count())
      val n = Bench.warmBest("baseline", name)(q().write.format("noop").mode("overwrite").save())
      println(f"$name%-22s count=$c%.3f noop=$n%.3f")
      (name, c, n)
    }
    println(f"TOTAL count=${rows.map(_._2).sum}%.3f noop=${rows.map(_._3).sum}%.3f")
    spark.stop()
    TailTwins.run(dir)
  }
}

/** Vanilla twins of the EXPENSIVE-TAIL declared queries (the l2/l4/l6/l9
  * text-pipeline family, the graph pair, the catalog profile) — the code
  * an experienced Spark user would write for the same tasks with stock
  * APIs: higher-order functions + md5 for signatures, MLlib MinHashLSH
  * for the near-dup joins, iterative DataFrame loops for PageRank /
  * label propagation, per-column aggregates for the profile. No graft
  * operators, expressions, or layout tricks.
  *
  * Unlike the 4 headline twins above (which keep BASELINE.md's original
  * round-1 local[4] environment for continuity), these run in the SAME
  * environment as `graft.Bench` — local[32], 32 shuffle partitions — so
  * "within 2× of vanilla" is an apples-to-apples per-query bar. Measured
  * warm best-of-3 under the noop-sink write (full materialization) —
  * the same action and basis as BENCH's all_queries map and the engine
  * side of TWINS.json (symmetric as of round 10).
  *
  * The twins are TASK-equivalent, not byte-equivalent, where stock APIs
  * make different choices (MinHashLSH's OR-amplified candidate set has
  * different recall than banded AND/OR LSH; vanilla PageRank uses double
  * scores) — the wall-time comparison is the point, correctness is the
  * oracle gate's job.
  */
object TailTwins {
  import org.apache.spark.ml.feature.{CountVectorizer, MinHashLSH}

  /** Standalone entry so the tail twins can be (re)measured without
    * re-paying the headline pass — with SPARK_GRAFT_BASELINE_QUERIES to
    * subset (the MLlib LSH twins are quadratic-explosion-bound on the
    * dense fixture and get measured at a smaller sf).
    */
  def main(args: Array[String]): Unit = {
    run(sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ()
  }

  def run(dir: String, keep: String => Boolean = _ => true): Seq[(String, Double)] = {
    val spark = SparkSession.builder()
      .master("local[32]")
      .appName("vanilla-baseline-tail")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.driver.memory", "16g")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try measure(twinDefs(spark, dir), keep, dir) finally spark.stop()
  }

  /** One twin's frame, lazily — lets specs pin a twin's ANSWER against
    * the engine operator's (a twin that silently computed a different
    * task would make every ratio in TWINS.json meaningless).
    */
  private[graft] def twinFrame(spark: SparkSession, dir: String,
                               name: String): DataFrame =
    twinDefs(spark, dir).collectFirst { case (`name`, f) => f() }
      .getOrElse(throw new NoSuchElementException(s"no twin named $name"))

  private def twinDefs(spark: SparkSession,
                       dir: String): Seq[(String, () => DataFrame)] = {
    def docs = spark.read.parquet(s"$dir/documents.parquet")
    def li = spark.read.parquet(s"$dir/lineitem.parquet")
    def ord = spark.read.parquet(s"$dir/orders.parquet")

    // deterministic split twin (same md5-bucket rule as the engine)
    def splitCol =
      when(substring(md5(concat(lit("split|"), col("doc_id").cast("string"))), 1, 2) <= "cb", "train")
        .when(substring(md5(concat(lit("split|"), col("doc_id").cast("string"))), 1, 2) <= "e5", "val")
        .otherwise("test")

    def tokDocs = docs
      .select(col("doc_id"), array_distinct(split(col("text"), " ")).as("toks"))
      .filter(size(col("toks")) > 0)

    def shingleDocs = docs
      .withColumn("t", split(col("text"), " "))
      .select(col("doc_id"),
        when(size(col("t")) >= 3,
          array_distinct(transform(sequence(lit(1), size(col("t")) - 2),
            i => concat_ws(" ", element_at(col("t"), i),
              element_at(col("t"), i + 1), element_at(col("t"), i + 2)))))
          .otherwise(array().cast("array<string>")).as("toks"))
      .filter(size(col("toks")) > 0)

    // the dup-span form an experienced user writes first: window-count
    // the spans, then EXPLODE every duplicated span into its covered
    // positions and count them distinct — correct, but the explode
    // multiplies the shuffle by the span length (the engine's lag-window
    // interval merge keeps one row per span start). Shared by the
    // l1_dupspans twin and the composed l0_pipeline twin.
    // one explode-everything ExactSubstr pass over an arbitrary
    // (doc_id, text) frame — shared by the single-pass twin and the
    // fixpoint twin's loop
    def substrDedupNaive(ds: DataFrame): DataFrame = {
      import org.apache.spark.sql.expressions.Window
      val s = ds.select(col("doc_id"), split(col("text"), " ").as("t"))
        .persist()
      val sp = s.select(col("doc_id"), posexplode(expr(
          "CASE WHEN size(t) >= 8 THEN transform(sequence(1, size(t) - 7), " +
            "i -> array_join(slice(t, i, 8), ' ')) ELSE array() END")))
        .select(col("doc_id"), (col("pos") + 1).as("p"), col("col").as("span"))
      val dup = sp.groupBy("span").agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") > 1)
      val w = Window.partitionBy(col("span")).orderBy(col("doc_id"), col("p"))
      val rm = sp.join(dup.select("span"), "span")
        .withColumn("rn", row_number().over(w)).filter(col("rn") > 1)
        .select(col("doc_id"), explode(sequence(col("p"), col("p") + 7)).as("q"))
        .distinct()
      val tok = s.select(col("doc_id"), posexplode(col("t")))
        .select(col("doc_id"), (col("pos") + 1).as("q"), col("col").as("tok"))
      val kept = tok.join(rm, Seq("doc_id", "q"), "left_anti")
      val clean = kept.groupBy("doc_id")
        .agg(count(lit(1)).as("n_kept"),
          array_join(transform(
            array_sort(collect_list(struct(col("q"), col("tok")))),
            x => x.getField("tok")), " ").as("text_clean"))
      s.select(col("doc_id"), size(col("t")).cast("long").as("n_tokens"))
        .join(clean, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_tokens"),
          (col("n_tokens") - coalesce(col("n_kept"), lit(0L))).as("n_removed"),
          coalesce(col("text_clean"), lit("")).as("text_clean"))
    }

    def dupCoverageNaive(ds: DataFrame): DataFrame = {
      import org.apache.spark.sql.expressions.Window
      val d = ds.withColumn("t", split(col("text"), " "))
      val spans = d.select(col("doc_id"),
        posexplode(when(size(col("t")) >= 8,
          transform(sequence(lit(1), size(col("t")) - 7),
            i => concat_ws(" ", (0 until 8).map(o => element_at(col("t"), i + o)): _*)))
          .otherwise(array().cast("array<string>"))))
        .select(col("doc_id"), (col("pos") + 1).as("p"), col("col").as("span"))
      val dup = spans.withColumn("cnt",
        count(lit(1)).over(Window.partitionBy(col("span")))).filter(col("cnt") > 1)
      val cov = dup.select(col("doc_id"),
          explode(sequence(col("p"), col("p") + 7)).as("q"))
        .groupBy("doc_id").agg(countDistinct(col("q")).as("covered"))
      d.select(col("doc_id"), size(col("t")).cast("long").as("n_tokens"))
        .join(cov, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_tokens"),
          coalesce(col("covered"), lit(0L)).as("covered_tokens"))
    }

    // idiomatic single-node CCNet: the same NLL scoring, then ONE global
    // Window.orderBy rank — fine on local[32], the 1-task funnel the
    // engine's distributedRank exists to avoid. Shared by the
    // l4_ccnet_buckets twin and the composed l0_pipeline twin.
    def ccnetNaive(ds: DataFrame): DataFrame = {
      import org.apache.spark.sql.expressions.Window
      val toks = ds.select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      val tf = toks.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
      val cnt = tf.groupBy("token").agg(sum("tf").as("cnt"))
      val total = cnt.agg(sum("cnt").as("t_total"))
      val scored = tf.join(cnt.crossJoin(broadcast(total))
          .select(col("token"), round(log(col("t_total").cast("double") / col("cnt")) * lit(1e6))
            .cast("long").as("nllm")), "token")
        .groupBy("doc_id")
        .agg(sum("tf").as("n_tokens"), sum(col("tf") * col("nllm")).as("s"))
        .select(col("doc_id"), col("n_tokens"),
          expr("(2L * s + n_tokens) DIV (2L * n_tokens)").as("nll_micro"))
      scored.crossJoin(broadcast(scored.agg(count(lit(1)).as("n"))))
        .withColumn("rank", row_number().over(
          Window.orderBy(col("nll_micro"), col("doc_id"))))
        .select(col("doc_id"), col("n_tokens"), col("nll_micro"), col("rank"),
          when(expr("(rank - 1) * 10 DIV n") < 3, lit("head"))
            .when(expr("(rank - 1) * 10 DIV n") < 6, lit("middle"))
            .otherwise(lit("tail")).as("bucket"))
    }

    // MLlib MinHash LSH near-dup join at Jaccard >= 0.8 (distance <= 0.2)
    def lshPairs(tok: DataFrame): DataFrame = {
      val cv = new CountVectorizer().setInputCol("toks").setOutputCol("features")
        .setBinary(true).fit(tok)
      val feat = cv.transform(tok).persist()
      val mh = new MinHashLSH().setInputCol("features").setOutputCol("hashes")
        .setNumHashTables(16).fit(feat)
      mh.approxSimilarityJoin(feat, feat, 0.2, "dist")
        .filter(col("datasetA.doc_id") < col("datasetB.doc_id"))
        .select(col("datasetA.doc_id").as("a_id"), col("datasetB.doc_id").as("b_id"),
          (lit(1.0) - col("dist")).as("jaccard"))
    }

    val twins: Seq[(String, () => DataFrame)] = Seq(
      "l2_minhash" -> (() => docs.select(col("doc_id") +: (0 until 128).map(i =>
        array_min(transform(split(col("text"), " "),
          t => md5(concat(lit(s"$i:"), t)))).as(f"sig_$i%02d")): _*)
        .orderBy("doc_id")),

      "l2_simhash" -> (() => {
        val tok = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
          .withColumn("h", md5(col("tok")))
        val votes = (0 until 32).map(i => sum(
          when(substring(col("h"), i + 1, 1).isin("8", "9", "a", "b", "c", "d", "e", "f"), 1)
            .otherwise(-1)).as(s"v_$i"))
        val assembled = (0 until 32).map(i =>
          when(col(s"v_$i") > 0, lit(1L << i)).otherwise(0L)).reduce(_ + _)
        tok.groupBy(col("doc_id")).agg(votes.head, votes.tail: _*)
          .select(col("doc_id"), assembled.as("simhash")).orderBy("doc_id")
      }),

      "l4_fingerprint" -> (() => docs.withColumn("t", split(col("text"), " "))
        .select(col("doc_id"),
          when(size(col("t")) >= 3,
            array_min(transform(sequence(lit(1), size(col("t")) - 2),
              i => md5(concat_ws(" ", element_at(col("t"), i),
                element_at(col("t"), i + 1), element_at(col("t"), i + 2))))))
            .as("fingerprint"),
          greatest(size(col("t")) - 2, lit(0)).as("n_shingles"))
        .orderBy("doc_id")),

      "l6_simjoin" -> (() => lshPairs(tokDocs).orderBy("a_id", "b_id")),

      "l6_ngram_simjoin" -> (() => lshPairs(shingleDocs).orderBy("a_id", "b_id")),

      "l6_dedup_docs" -> (() => {
        val tok = tokDocs
        val pairs = lshPairs(tok).select(col("a_id"), col("b_id")).persist()
        val edges = pairs.unionByName(
          pairs.select(col("b_id").as("a_id"), col("a_id").as("b_id"))).persist()
        var labels = tok.select(col("doc_id"), col("doc_id").as("label")).persist()
        for (_ <- 1 to 4) {
          val nbr = edges.join(labels.select(col("doc_id").as("b_id"), col("label")), "b_id")
            .groupBy(col("a_id")).agg(min(col("label")).as("m"))
            .withColumnRenamed("a_id", "doc_id")
          labels = labels.join(nbr, Seq("doc_id"), "left")
            .select(col("doc_id"),
              least(col("label"), coalesce(col("m"), col("label"))).as("label"))
            .persist()
        }
        labels.select(col("doc_id"), col("label").as("cluster_rep"),
          (col("doc_id") === col("label")).as("kept")).orderBy("doc_id")
      }),

      "l9_decontam" -> (() => {
        val d = docs.withColumn("t", split(col("text"), " "))
          .select(col("doc_id"), col("source"), col("t"), splitCol.as("split"))
        def grams(f: DataFrame) = f.select(col("doc_id"),
          explode(when(size(col("t")) >= 5,
            transform(sequence(lit(1), size(col("t")) - 4),
              i => concat_ws(" ", (0 until 5).map(o => element_at(col("t"), i + o)): _*)))
            .otherwise(array().cast("array<string>"))).as("gram"))
        val train = d.filter(col("split") === "train")
        val test = d.filter(col("split") === "test")
        val contaminated = grams(train)
          .join(grams(test).select("gram").distinct(), "gram")
          .select("doc_id").distinct().withColumn("contaminated", lit(true))
        train.join(contaminated, Seq("doc_id"), "left")
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_train"),
            sum(when(col("contaminated"), 1L).otherwise(0L)).as("n_contaminated"),
            sum(when(col("contaminated"), col("doc_id")).otherwise(0L)).as("contaminated_id_digest"))
          .orderBy("source")
      }),

      "l6_embed_neardup" -> (() => {
        // the brute-force baseline an experienced user writes for
        // "top-k strongest pairs": all-pairs join + HOF cosine
        val e = spark.read.parquet(s"$dir/embeddings.parquet")
          .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("e"))
        def dot(a: org.apache.spark.sql.Column,
                b: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
          aggregate(zip_with(a, b, _ * _), lit(0.0), _ + _)
        e.alias("a").join(e.alias("b"), col("a.vec_id") < col("b.vec_id"))
          .select(col("a.vec_id").as("a_id"), col("b.vec_id").as("b_id"),
            (dot(col("a.e"), col("b.e")) /
              sqrt(dot(col("a.e"), col("a.e")) * dot(col("b.e"), col("b.e"))))
              .as("cosine"))
          .orderBy(col("cosine").desc, col("a_id"), col("b_id")).limit(20)
      }),

      "g1_pagerank" -> (() => {
        val flows = li.join(ord, col("l_orderkey") === col("o_orderkey"))
          .select((col("l_suppkey") * 2).as("s"), (col("o_custkey") * 2 + 1).as("c"))
          .distinct()
        val edges = flows.select(col("s").as("src"), col("c").as("dst"))
          .unionByName(flows.select(col("c").as("src"), col("s").as("dst"))).persist()
        val deg = edges.groupBy("src").agg(count(lit(1)).as("d"))
        val linked = edges.join(deg, "src").persist()
        var ranks = edges.select(col("src").as("node")).distinct()
          .withColumn("rank", lit(1.0)).persist()
        for (_ <- 1 to 5) {
          val contribs = linked.join(ranks.withColumnRenamed("node", "src"), "src")
            .groupBy(col("dst")).agg(sum(col("rank") / col("d")).as("mass"))
            .withColumnRenamed("dst", "node")
          ranks = ranks.select(col("node"))
            .join(contribs, Seq("node"), "left")
            .select(col("node"),
              (lit(0.15) + lit(0.85) * coalesce(col("mass"), lit(0.0))).as("rank"))
            .persist()
        }
        ranks.orderBy(col("rank").desc, col("node")).limit(20)
      }),

      // the idiomatic dangling-aware loop a first draft writes: double
      // arithmetic, per-round dangling-mass scalar via collect, persisted
      // frames — same iterative shape as the engine's integer form, so
      // parity is the expected ratio
      "g1_pagerank_dangling" -> (() => {
        val edges = li.join(ord, col("l_orderkey") === col("o_orderkey"))
          .select((col("l_suppkey") * 2).as("src"), (col("o_custkey") * 2 + 1).as("dst"))
          .distinct().persist()
        val deg = edges.groupBy("src").agg(count(lit(1)).as("d"))
        val linked = edges.join(deg, "src").persist()
        val nodes = edges.select(col("src").as("node"))
          .unionByName(edges.select(col("dst").as("node"))).distinct()
          .join(deg.select(col("src").as("node"), lit(true).as("out")),
            Seq("node"), "left")
          .select(col("node"), col("out").isNull.as("dangling")).persist()
        val n = nodes.count()
        var ranks = nodes.select(col("node"), col("dangling"), lit(1.0).as("rank"))
          .persist()
        for (_ <- 1 to 5) {
          val dm = ranks.filter(col("dangling"))
            .agg(coalesce(sum(col("rank")), lit(0.0))).first().getDouble(0)
          val contribs = linked.join(ranks.select(col("node").as("src"), col("rank")), "src")
            .groupBy(col("dst")).agg(sum(col("rank") / col("d")).as("mass"))
            .withColumnRenamed("dst", "node")
          ranks = nodes
            .join(contribs, Seq("node"), "left")
            .select(col("node"), col("dangling"),
              (lit(0.15) + lit(0.85) * (coalesce(col("mass"), lit(0.0)) + lit(dm / n)))
                .as("rank"))
            .persist()
        }
        ranks.orderBy(col("rank").desc, col("node")).limit(20)
          .select(col("node"), col("rank"))
      }),

      // the idiomatic synchronous-LPA loop: per-round vote counts with a
      // per-node row_number window (the per-group rank a first draft
      // reaches for), persisted label frames
      "g3_label_prop" -> (() => {
        import org.apache.spark.sql.expressions.Window
        val flows = li.join(ord, col("l_orderkey") === col("o_orderkey"))
          .select((col("l_suppkey") * 2).as("s"), (col("o_custkey") * 2 + 1).as("c"))
          .distinct().persist()
        val edges = flows.select(col("s").as("src"), col("c").as("dst"))
          .unionByName(flows.select(col("c").as("src"), col("s").as("dst")))
          .persist()
        var labels = edges.select(col("src").as("node")).distinct()
          .select(col("node"), col("node").as("label")).persist()
        for (_ <- 1 to 4) {
          val w = Window.partitionBy(col("dst"))
            .orderBy(col("cnt").desc, col("label"))
          labels = edges
            .join(labels.select(col("node").as("src"), col("label")), "src")
            .groupBy(col("dst"), col("label")).agg(count(lit(1)).as("cnt"))
            .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
            .select(col("dst").as("node"), col("label")).persist()
        }
        labels.select(col("node"), col("label").as("community"))
          .orderBy(col("node"))
      }),

      // the explode-everything ExactSubstr first draft: span STRINGS
      // through every shuffle, window-ranked first occurrence, exploded
      // removal positions, per-token anti-join, collect_list rebuild
      "l1_substr_dedup" -> (() => substrDedupNaive(docs).orderBy("doc_id")),

      // the vanilla FIXPOINT loop: re-run the explode-everything pass on
      // its own output until a driver-side removed-count scalar goes
      // quiet (same stop rule as the engine, double-free integer counts)
      "l1_substr_dedup_fix" -> (() => {
        var cur = docs.select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_tokens0"),
          lit(0L).as("removed_total"), col("text"))
        var prev = -1L
        var rounds = 0
        var quiet = false
        while (!quiet && rounds < 8) {
          rounds += 1
          val out = substrDedupNaive(cur.select(col("doc_id"), col("text")))
          cur = cur.select(col("doc_id"), col("n_tokens0"), col("removed_total"))
            .join(out.select(col("doc_id"), col("n_removed"),
              col("text_clean").as("text")), "doc_id")
            .select(col("doc_id"), col("n_tokens0"),
              (col("removed_total") + col("n_removed")).as("removed_total"),
              col("text"))
            .persist()
          val total = cur.agg(coalesce(sum(col("removed_total")), lit(0L)))
            .first().getLong(0)
          if (total == prev) quiet = true else prev = total
        }
        cur.select(col("doc_id"), col("n_tokens0").as("n_tokens"),
          col("removed_total").as("n_removed"), col("text").as("text_clean"))
          .orderBy("doc_id")
      }),

      // the vanilla staged PII v2: identical regex chain, but card
      // validation as the Scala UDF a first draft writes (the engine's
      // codegen'd Luhn fold is the thing being priced)
      "l10_pii_v2" -> (() => {
        val luhnFilterUdf = udf { cands: Seq[String] =>
          cands.filter { card =>
            var total = 0
            var i = 0
            while (i < 16) {
              var d = card.charAt(i) - '0'
              if (i % 2 == 0) { d *= 2; if (d > 9) d -= 9 }
              total += d
              i += 1
            }
            total % 10 == 0
          }
        }
        val Seq((urlP, urlR), (emP, emR), (ipP, ipR)) =
          graft.operators.TextOps.PiiPatterns
        val phoneP = graft.operators.TextOps.PhonePattern
        val ccP = graft.operators.TextOps.CcCandidatePattern
        val base15 = concat(lit("4"),
          lpad(pmod(col("doc_id"), lit(100000000L)).cast("string"), 14, "0"))
        val lsum = aggregate(sequence(lit(1), lit(15)), lit(0), (acc, i) => {
          val d = ascii(col("b15").substr(i, lit(1))) - lit(48)
          val dd = d * lit(2)
          acc + when(pmod(i, lit(2)) === 1,
            when(dd > 9, dd - 9).otherwise(dd)).otherwise(d)
        })
        docs
          .withColumn("b15", base15)
          .withColumn("chk", pmod(lit(10) - pmod(lsum, lit(10)), lit(10)))
          .select(col("doc_id"), concat(
            col("text"),
            lit(" reach user"), col("doc_id"), lit("@mail.example or +1"),
            lpad(pmod(col("doc_id"), lit(1000000000L)).cast("string"), 9, "0"),
            lit(" card "), concat(col("b15"), col("chk").cast("string")),
            lit(" not "),
            concat(col("b15"), pmod(col("chk") + 1, lit(10)).cast("string"))).as("text"))
          .withColumn("n_url", regexp_count(col("text"), lit(urlP)).cast("long"))
          .withColumn("t1", regexp_replace(col("text"), urlP, urlR))
          .withColumn("n_email", regexp_count(col("t1"), lit(emP)).cast("long"))
          .withColumn("t2", regexp_replace(col("t1"), emP, emR))
          .withColumn("n_ip", regexp_count(col("t2"), lit(ipP)).cast("long"))
          .withColumn("t3", regexp_replace(col("t2"), ipP, ipR))
          .withColumn("n_phone", regexp_count(col("t3"), lit(phoneP)).cast("long"))
          .withColumn("t4", regexp_replace(col("t3"), phoneP, "<PHONE>"))
          .withColumn("cards",
            luhnFilterUdf(regexp_extract_all(col("t4"), lit(ccP), lit(0))))
          .select(col("doc_id"), col("n_url"), col("n_email"), col("n_ip"),
            col("n_phone"), size(col("cards")).cast("long").as("n_cc"),
            aggregate(col("cards"), col("t4"),
              (acc, c) => replace(acc, c, lit("<CC>"))).as("scrubbed"))
          .orderBy("doc_id")
      }),

      // the vanilla convergence-stop PageRank: double scores, per-round
      // max-|delta| driver scalar, same eps/cap semantics as the
      // engine's declared integer form (4.5 unit scores, cap 12)
      "g1_pagerank_conv" -> (() => {
        val flows = li.join(ord, col("l_orderkey") === col("o_orderkey"))
          .select((col("l_suppkey") * 2).as("s"), (col("o_custkey") * 2 + 1).as("c"))
          .distinct()
        val edges = flows.select(col("s").as("src"), col("c").as("dst"))
          .unionByName(flows.select(col("c").as("src"), col("s").as("dst"))).persist()
        val deg = edges.groupBy("src").agg(count(lit(1)).as("d"))
        val linked = edges.join(deg, "src").persist()
        val nodes = edges.select(col("src").as("node")).distinct().persist()
        var ranks = nodes.withColumn("rank", lit(1.0)).persist()
        var rounds = 0
        var converged = false
        while (!converged && rounds < 12) {
          rounds += 1
          val contribs = linked.join(ranks.withColumnRenamed("node", "src"), "src")
            .groupBy(col("dst")).agg(sum(col("rank") / col("d")).as("mass"))
            .withColumnRenamed("dst", "node")
          val next = nodes
            .join(contribs, Seq("node"), "left")
            .select(col("node"),
              (lit(0.15) + lit(0.85) * coalesce(col("mass"), lit(0.0))).as("rank"))
            .persist()
          val delta = next.join(ranks.select(col("node"), col("rank").as("prev")), "node")
            .agg(coalesce(max(abs(col("rank") - col("prev"))), lit(0.0)))
            .first().getDouble(0)
          ranks = next
          if (delta <= 4.5) converged = true
        }
        ranks.withColumn("rounds", lit(rounds))
          .orderBy(col("rank").desc, col("node")).limit(20)
      }),

      // the window-rank kNN-graph first draft: same sign buckets (the
      // candidate universe is part of the answer), plain self-join,
      // interpreted double HOF cosine, per-node row_number
      "l3_knn_graph" -> (() => {
        import org.apache.spark.sql.expressions.Window
        val eb = spark.read.parquet(s"$dir/embeddings.parquet")
          .select(col("vec_id"),
            transform(col("embedding"), _.cast("double")).as("e"),
            graft.operators.Similarity.signBucket(col("embedding"), 6).as("bucket"))
        def dot(a: org.apache.spark.sql.Column,
                b: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
          aggregate(zip_with(a, b, _ * _), lit(0.0), _ + _)
        // rounded to 6dp and NaN-dropped so the twin answers the SAME
        // question (a zero-norm NaN would sort first and squat every
        // rank; values can still differ from the engine's exact-DECIMAL
        // sums in the last ulp, so no assertSameRows pin — documented
        // in BASELINE.md)
        val pairs = eb.alias("a").join(eb.alias("b"),
            col("a.bucket") === col("b.bucket") && col("a.vec_id") < col("b.vec_id"))
          .select(col("a.vec_id").as("a_id"), col("b.vec_id").as("b_id"),
            round(dot(col("a.e"), col("b.e")) /
              sqrt(dot(col("a.e"), col("a.e")) * dot(col("b.e"), col("b.e"))), 6)
              .as("cosine"))
          .filter(!isnan(col("cosine")) && col("cosine").isNotNull)
        val sym = pairs
          .select(col("a_id").as("vec_id"), col("b_id").as("nbr_id"), col("cosine"))
          .unionByName(pairs
            .select(col("b_id").as("vec_id"), col("a_id").as("nbr_id"), col("cosine")))
        val w = Window.partitionBy(col("vec_id"))
          .orderBy(col("cosine").desc, col("nbr_id"))
        sym.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= 5)
          .select(col("vec_id"), col("rnk"), col("nbr_id"), col("cosine"))
          .orderBy(col("vec_id"), col("rnk"))
      }),

      "g2_triangles" -> (() => {
        val und = li.alias("l1")
          .join(li.alias("l2"), col("l1.l_orderkey") === col("l2.l_orderkey"))
          .filter(col("l1.l_partkey") < col("l2.l_partkey"))
          .select(col("l1.l_partkey").as("a"), col("l2.l_partkey").as("b"))
          .distinct().persist()
        // textbook id-ordered closure: (a<b) ⋈ (b<c) closed by (a,c)
        val tri = und.alias("e1")
          .join(und.alias("e2"), col("e1.b") === col("e2.a"))
          .join(und.alias("e3"),
            col("e1.a") === col("e3.a") && col("e2.b") === col("e3.b"))
          .agg(count(lit(1)).as("n_triangles"))
        val deg = und.select(col("a").as("v")).unionByName(und.select(col("b").as("v")))
          .groupBy("v").agg(count(lit(1)).as("d"))
        und.agg(count(lit(1)).as("n_edges"))
          .crossJoin(deg.agg(sum(expr("d * (d - 1) / 2")).as("n_wedges")))
          .crossJoin(tri)
          .select(col("n_edges"), col("n_wedges"), col("n_triangles"),
            expr("3 * n_triangles * 1000 / nullif(n_wedges, 0)").as("cc_permille"))
      }),

      "a6_stats" -> (() => li
        // honesty pin: the engine's A6 already IS idiomatic Spark
        // (built-in percentile/stddev_samp/corr — nothing to strip), so
        // this twin is the same plan by construction; the row exists for
        // the ≥2s-coverage rule and prices only the session configs
        .groupBy(col("l_returnflag"))
        .agg(round(expr("percentile(l_extendedprice, 0.5)"), 4).as("median_price"),
          round(stddev_samp(col("l_quantity")), 4).as("sd_qty"),
          round(corr(col("l_quantity"), col("l_extendedprice")), 4).as("corr_qty_price"))
        .orderBy(col("l_returnflag"))),

      // the first-draft form: exact chain and sketch as two separate
      // aggregations joined back together (two scans, two exchanges, a
      // join) — the engine fuses all four aggregates into ONE groupBy;
      // the twinned cost is exactly that fusion
      "a6_stats_approx" -> (() => {
        val exact = li.groupBy(col("l_returnflag"))
          .agg(round(expr("percentile(l_extendedprice, 0.5)"), 4).as("median_price"),
            round(expr("percentile(l_extendedprice, 0.95)"), 4).as("p95_price"))
        li.groupBy(col("l_returnflag"))
          .agg(percentile_approx(col("l_extendedprice"), lit(0.5), lit(10000)).as("approx_median"),
            percentile_approx(col("l_extendedprice"), lit(0.95), lit(10000)).as("approx_p95"))
          .join(exact, "l_returnflag")
          .select(col("l_returnflag"), col("median_price"), col("p95_price"),
            (abs(col("approx_median") - col("median_price")) <=
              col("median_price") * lit(10L) / lit(1000L)).as("median_est_ok"),
            (abs(col("approx_p95") - col("p95_price")) <=
              col("p95_price") * lit(10L) / lit(1000L)).as("p95_est_ok"))
          .orderBy(col("l_returnflag"))
      }),

      // the vanilla media frame-sample a first draft writes: row-at-a-time
      // UDF returning the per-frame stat structs + explode (Catalyst-opaque,
      // one decode call per ROW with struct boxing) vs the engine's typed
      // mapPartitions flatMap. The codecs themselves are shared kernels —
      // the twinned cost is the dataframe plumbing, the l10_pii_v2
      // UDF-chain convention
      "l5_video_frames" -> (() => {
        // same row contract as the engine's videoFrameStats on ALL
        // inputs, not just the current synthesis: per-frame decode
        // failure → null stat fields, demux failure → one all-null row
        val decode = udf { payload: Array[Byte] =>
          graft.operators.Avi.decodeAvi(payload) match {
            case Some((_, frames)) if frames.nonEmpty =>
              (0 until frames.length by 2).map { fi =>
                graft.operators.Jpeg.decodeJpeg(frames(fi)) match {
                  case Some((w, h, px)) if px.nonEmpty =>
                    var r = 0L; var g = 0L; var b = 0L
                    px.foreach { p =>
                      r += (p >> 16) & 0xff; g += (p >> 8) & 0xff; b += p & 0xff
                    }
                    val n = px.length.toLong
                    (Option(fi), Option(w), Option(h), Option(n),
                      Option(r / n), Option(g / n), Option(b / n))
                  case _ =>
                    (Option(fi), Option.empty[Int], Option.empty[Int],
                      Option.empty[Long], Option.empty[Long],
                      Option.empty[Long], Option.empty[Long])
                }
              }
            case _ =>
              Seq((Option.empty[Int], Option.empty[Int], Option.empty[Int],
                Option.empty[Long], Option.empty[Long], Option.empty[Long],
                Option.empty[Long]))
          }
        }
        graft.operators.Multimodal.synthAviAssets(Tables(spark, dir))
          .select(col("doc_id"), explode(decode(col("payload"))).as("f"))
          .select(col("doc_id"), col("f._1").as("frame_idx"),
            col("f._2").as("width"), col("f._3").as("height"),
            col("f._4").as("n_pixels"), col("f._5").as("mean_r"),
            col("f._6").as("mean_g"), col("f._7").as("mean_b"))
          .orderBy(col("doc_id"), col("frame_idx"))
      }),

      // the MPEG-1 twins follow the l5_video_frames convention: the
      // row-at-a-time UDF+explode chain a first draft writes, sharing
      // the codec kernel — the twinned cost is the dataframe plumbing
      "l5_mpeg1_frames" -> (() => {
        val decode = udf { payload: Array[Byte] =>
          graft.operators.Mpeg1.decodeMpeg1Frames(payload) match {
            case Some((w, h, frames)) if frames.nonEmpty =>
              (0 until frames.length by 2).map { fi =>
                val px = frames(fi)
                var r = 0L; var g = 0L; var b = 0L
                px.foreach { p =>
                  r += (p >> 16) & 0xff; g += (p >> 8) & 0xff; b += p & 0xff
                }
                val n = px.length.toLong
                (Option(fi), Option(w), Option(h), Option(n),
                  Option(r / n), Option(g / n), Option(b / n))
              }
            case _ =>
              Seq((Option.empty[Int], Option.empty[Int], Option.empty[Int],
                Option.empty[Long], Option.empty[Long], Option.empty[Long],
                Option.empty[Long]))
          }
        }
        graft.operators.Multimodal.synthMpeg1Assets(Tables(spark, dir))
          .select(col("doc_id"), explode(decode(col("payload"))).as("f"))
          .select(col("doc_id"), col("f._1").as("frame_idx"),
            col("f._2").as("width"), col("f._3").as("height"),
            col("f._4").as("n_pixels"), col("f._5").as("mean_r"),
            col("f._6").as("mean_g"), col("f._7").as("mean_b"))
          .orderBy(col("doc_id"), col("frame_idx"))
      }),

      "l5_mpeg1p_frames" -> (() => {
        val decode = udf { payload: Array[Byte] =>
          graft.operators.Mpeg1.decodeMpeg1Frames(payload) match {
            case Some((w, h, frames)) if frames.nonEmpty =>
              frames.indices.map { fi =>
                val px = frames(fi)
                var r = 0L; var g = 0L; var b = 0L
                px.foreach { p =>
                  r += (p >> 16) & 0xff; g += (p >> 8) & 0xff; b += p & 0xff
                }
                val n = px.length.toLong
                (Option(fi), Option(w), Option(h), Option(n),
                  Option(r / n), Option(g / n), Option(b / n))
              }
            case _ =>
              Seq((Option.empty[Int], Option.empty[Int], Option.empty[Int],
                Option.empty[Long], Option.empty[Long], Option.empty[Long],
                Option.empty[Long]))
          }
        }
        graft.operators.Multimodal.synthMpeg1PAssets(Tables(spark, dir))
          .select(col("doc_id"), explode(decode(col("payload"))).as("f"))
          .select(col("doc_id"), col("f._1").as("frame_idx"),
            col("f._2").as("width"), col("f._3").as("height"),
            col("f._4").as("n_pixels"), col("f._5").as("mean_r"),
            col("f._6").as("mean_g"), col("f._7").as("mean_b"))
          .orderBy(col("doc_id"), col("frame_idx"))
      }),

      "l5_mpeg1b_frames" -> (() => {
        val decode = udf { payload: Array[Byte] =>
          graft.operators.Mpeg1.decodeMpeg1Frames(payload) match {
            case Some((w, h, frames)) if frames.nonEmpty =>
              frames.indices.map { fi =>
                val px = frames(fi)
                var r = 0L; var g = 0L; var b = 0L
                px.foreach { p =>
                  r += (p >> 16) & 0xff; g += (p >> 8) & 0xff; b += p & 0xff
                }
                val n = px.length.toLong
                (Option(fi), Option(w), Option(h), Option(n),
                  Option(r / n), Option(g / n), Option(b / n))
              }
            case _ =>
              Seq((Option.empty[Int], Option.empty[Int], Option.empty[Int],
                Option.empty[Long], Option.empty[Long], Option.empty[Long],
                Option.empty[Long]))
          }
        }
        graft.operators.Multimodal.synthMpeg1BAssets(Tables(spark, dir))
          .select(col("doc_id"), explode(decode(col("payload"))).as("f"))
          .select(col("doc_id"), col("f._1").as("frame_idx"),
            col("f._2").as("width"), col("f._3").as("height"),
            col("f._4").as("n_pixels"), col("f._5").as("mean_r"),
            col("f._6").as("mean_g"), col("f._7").as("mean_b"))
          .orderBy(col("doc_id"), col("frame_idx"))
      }),

      "l5_mpeg1d_frames" -> (() => {
        val decode = udf { payload: Array[Byte] =>
          graft.operators.Mpeg1.decodeMpeg1Frames(payload) match {
            case Some((w, h, frames)) if frames.nonEmpty =>
              (0 until frames.length by 2).map { fi =>
                val px = frames(fi)
                var r = 0L; var g = 0L; var b = 0L
                px.foreach { p =>
                  r += (p >> 16) & 0xff; g += (p >> 8) & 0xff; b += p & 0xff
                }
                val n = px.length.toLong
                (Option(fi), Option(w), Option(h), Option(n),
                  Option(r / n), Option(g / n), Option(b / n))
              }
            case _ =>
              Seq((Option.empty[Int], Option.empty[Int], Option.empty[Int],
                Option.empty[Long], Option.empty[Long], Option.empty[Long],
                Option.empty[Long]))
          }
        }
        graft.operators.Multimodal.synthMpeg1DAssets(Tables(spark, dir))
          .select(col("doc_id"), explode(decode(col("payload"))).as("f"))
          .select(col("doc_id"), col("f._1").as("frame_idx"),
            col("f._2").as("width"), col("f._3").as("height"),
            col("f._4").as("n_pixels"), col("f._5").as("mean_r"),
            col("f._6").as("mean_g"), col("f._7").as("mean_b"))
          .orderBy(col("doc_id"), col("frame_idx"))
      }),

      "l1_dupspans" -> (() => dupCoverageNaive(docs).orderBy("doc_id")),

      // the KMV-sketch form an experienced user writes first: per-corpus
      // global DISTINCT → global ORDER BY → LIMIT k — correct, but the
      // distinct exchanges the corpus's whole gram-hash universe and the
      // order-by funnels it through one task, where the engine's bounded
      // aggregator ships k strings per partition (the O(k) one-row tail
      // arithmetic is shared — the twinned cost is sketch CONSTRUCTION)
      "m9_containment" -> (() => {
        def grams(side: String) = docs
          .select(splitCol.as("split"), split(col("text"), " ").as("t"))
          .filter(col("split") === side)
          .select(explode(when(size(col("t")) >= 5,
            transform(sequence(lit(1), size(col("t")) - 4),
              i => concat_ws(" ", (0 to 4).map(j =>
                element_at(col("t"), i + lit(j))): _*)))
            .otherwise(array().cast("array<string>"))).as("gram"))
          .select(md5(col("gram")).as("h"))
        def sketch(side: String, as: String) =
          grams(side).distinct().orderBy(col("h")).limit(256)
            .agg(sort_array(collect_list(col("h"))).as(as))
        graft.operators.Eval.overlapFromSketches(
          sketch("train", "ska").crossJoin(sketch("test", "skb")), 256)
      }),

      // the stock per-source matrix: per-source DISTINCT gram hashes
      // (corpus-wide exchange of the whole hash universe keyed by
      // source), a per-source rank window + row_number ≤ k cut for the
      // sketch, then the same pair join — vs the engine's grouped
      // k-bounded aggregator that ships k strings per group per
      // partition and never ranks the distinct universe
      "m9_overlap_matrix" -> (() => {
        import org.apache.spark.sql.expressions.Window
        val k = graft.operators.Eval.KmvK
        val g = docs
          .select(col("source"), split(col("text"), " ").as("t"))
          .select(col("source"), explode(when(size(col("t")) >= 5,
            transform(sequence(lit(1), size(col("t")) - 4),
              i => concat_ws(" ", (0 to 4).map(j =>
                element_at(col("t"), i + lit(j))): _*)))
            .otherwise(array().cast("array<string>"))).as("gram"))
          .select(col("source"), md5(col("gram")).as("h"))
          .distinct()
        val sk = g
          .withColumn("r", row_number().over(
            Window.partitionBy(col("source")).orderBy(col("h"))))
          .filter(col("r") <= k)
          .groupBy(col("source"))
          .agg(sort_array(collect_list(col("h"))).as("sk"))
        val pairs = sk.as("x").join(sk.as("y"), col("x.source") < col("y.source"))
          .select(col("x.source").as("source_a"), col("y.source").as("source_b"),
            col("x.sk").as("ska"), col("y.sk").as("skb"))
        graft.operators.Eval.overlapFromSketches(pairs, k,
          carry = Seq("source_a", "source_b"))
          .orderBy(col("source_a"), col("source_b"))
      }),

      "l4_ccnet_buckets" -> (() => ccnetNaive(docs)),

      "a10_equi_depth" -> (() => {
        // idiomatic equi-depth histogram: a GLOBAL row_number window —
        // one task sorts the whole table, the funnel bucketedRank exists
        // to avoid — then the same (rank−1)·k DIV n bucket arithmetic
        import org.apache.spark.sql.expressions.Window
        val k = graft.operators.Relational.DepthBuckets
        val pr = li.select(col("l_extendedprice"), col("l_orderkey"),
          col("l_linenumber"))
        val n = pr.count()
        pr.withColumn("rank", row_number().over(
            Window.orderBy(col("l_extendedprice"), col("l_orderkey"),
              col("l_linenumber"))))
          .groupBy(expr(s"(rank - 1) * $k DIV ${n}L").as("bucket"))
          .agg(count(lit(1)).as("n"),
            min(col("l_extendedprice")).as("lo_price"),
            max(col("l_extendedprice")).as("hi_price"),
            round(sum(col("l_extendedprice")), 2).as("sum_price"))
          .orderBy(col("bucket"))
      }),

      "l4_gopher" -> (() => {
        // naive Gopher ruleset: explode the corpus token-wise, aggregate
        // per-doc stats, rebuild bigrams with a lead() window, join the
        // pieces back — the explode-and-join formulation a first draft
        // writes (the engine computes every rule inside ONE narrow
        // shuffle-free per-row projection instead)
        import graft.operators.TextOps._
        import org.apache.spark.sql.expressions.Window
        val pos = docs.select(col("doc_id"), col("text"),
          posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
        val stats = pos.groupBy("doc_id")
          .agg(count(lit(1)).as("n_tokens"),
            sum(length(col("tok"))).as("sum_tok_len"),
            sum(when(col("tok").rlike("[A-Za-z]"), 1L).otherwise(0L))
              .as("n_alpha"),
            countDistinct(when(col("tok").isin(GopherRequiredStops: _*),
              col("tok"))).as("stop_hits"))
        val grams = pos
          .withColumn("nxt",
            lead(col("tok"), 1).over(
              Window.partitionBy("doc_id").orderBy("pos")))
          .filter(col("nxt").isNotNull)
          .select(col("doc_id"),
            concat_ws(" ", col("tok"), col("nxt")).as("gram"))
        val biStats = grams.groupBy("doc_id")
          .agg(count(lit(1)).as("n_grams"),
            countDistinct(col("gram")).as("n_distinct_grams"))
        val symbols = docs.select(col("doc_id"),
          regexp_count(col("text"), lit("#|\\.\\.\\.")).as("n_symbols"))
        stats
          .join(biStats, Seq("doc_id"), "left")
          .join(symbols, "doc_id")
          .select(col("doc_id"), col("n_tokens").cast("int").as("n_tokens"),
            expr("sum_tok_len * 1000 DIV n_tokens").as("mean_len_permille"),
            expr("n_alpha * 1000 DIV n_tokens").as("alpha_permille"),
            col("stop_hits").cast("int").as("stop_hits"),
            expr("n_symbols * 1000 DIV n_tokens").as("symbol_permille"),
            expr("(coalesce(n_grams, 0) - coalesce(n_distinct_grams, 0)) * 1000" +
              " DIV greatest(coalesce(n_grams, 0), 1)").as("dup_bigram_permille"))
          .select(col("*"),
            col("n_tokens").between(GopherMinWords, GopherMaxWords).as("r_words"),
            col("mean_len_permille")
              .between(GopherMinMeanLenPermille, GopherMaxMeanLenPermille)
              .as("r_mean_len"),
            (col("alpha_permille") >= GopherMinAlphaPermille).as("r_alpha"),
            (col("stop_hits") >= GopherMinStopHits).as("r_stops"),
            (col("symbol_permille") <= GopherMaxSymbolPermille).as("r_symbols"),
            (col("dup_bigram_permille") <= GopherMaxDupBigramPermille)
              .as("r_dup_bigram"))
          .withColumn("keep",
            col("r_words") && col("r_mean_len") && col("r_alpha") &&
              col("r_stops") && col("r_symbols") && col("r_dup_bigram"))
          .orderBy(col("doc_id"))
      }),

      "m3_mrr" -> (() => {
        // idiomatic form: BM25 via explode/groupBy, then a PER-QUERY
        // Window.partitionBy rank — the 1-partition-per-query funnel the
        // engine's offset-localized distributedRank exists to avoid
        import org.apache.spark.sql.expressions.Window
        val (k1, b, k) = (1.2, 0.75, 15)
        val toks = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
        val tf = toks.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
        val dl = toks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
        val dfq = tf.groupBy("token").agg(count(lit(1)).as("df"))
        val stats = docs.agg(count(lit(1)).as("n_docs"),
          sum(size(split(col("text"), " "))).as("sum_dl"))
        val scored = tf.join(dl, "doc_id").join(dfq, "token")
          .crossJoin(broadcast(stats))
          .withColumn("idf", log(lit(1.0) +
            (col("n_docs").cast("double") - col("df") + lit(0.5)) / (col("df") + lit(0.5))))
          .withColumn("bm25", col("idf") * col("tf") * lit(k1 + 1) /
            (col("tf") + lit(k1) * (lit(1 - b) + lit(b) *
              col("dl") / (col("sum_dl").cast("double") / col("n_docs")))))
        val qdf = graft.operators.Eval.MrrQueries.flatMap { q =>
          val ts = q.split("\\s+").filter(_.nonEmpty).distinct
          ts.map(t => (q, t, ts.length))
        }.toSeq
        val qframe = spark.createDataFrame(qdf).toDF("query", "token", "n_q")
        val cand = scored.join(broadcast(qframe), "token")
          .groupBy(col("query"), col("doc_id"), col("n_q"))
          .agg(sum(col("bm25")).as("score"), count(lit(1)).as("hits"))
          .withColumn("rnk", row_number().over(
            Window.partitionBy(col("query")).orderBy(col("score").desc, col("doc_id"))))
          .filter(col("rnk") <= k)
          .withColumn("relevant", col("hits") === col("n_q"))
        cand.groupBy("query")
          .agg(min(when(col("relevant"), col("rnk"))).as("first_rel"),
            sum(when(col("relevant"), 1L).otherwise(0L)).as("n_rel"))
          .select(col("query"), col("first_rel"),
            (lit(1.0) / col("first_rel")).as("rr"), col("n_rel"),
            (col("n_rel") / lit(k.toDouble)).as("prec_at_k"))
          .orderBy("query")
      }),

      "m5_ndcg" -> (() => {
        // idiomatic form: BM25 + TWO per-query Window ranks — one by
        // score for DCG, one by grade for the ideal order — both the
        // 1-partition-per-query funnel the engine's bounded TopKAgg
        // partial aggregate (+ grade-count IDCG) exists to avoid
        import org.apache.spark.sql.expressions.Window
        val (k1, b, k) = (1.2, 0.75, 10)
        val toks = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
        val tf = toks.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
        val dl = toks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
        val dfq = tf.groupBy("token").agg(count(lit(1)).as("df"))
        val stats = docs.agg(count(lit(1)).as("n_docs"),
          sum(size(split(col("text"), " "))).as("sum_dl"))
        val scored = tf.join(dl, "doc_id").join(dfq, "token")
          .crossJoin(broadcast(stats))
          .withColumn("idf", log(lit(1.0) +
            (col("n_docs").cast("double") - col("df") + lit(0.5)) / (col("df") + lit(0.5))))
          .withColumn("bm25", col("idf") * col("tf") * lit(k1 + 1) /
            (col("tf") + lit(k1) * (lit(1 - b) + lit(b) *
              col("dl") / (col("sum_dl").cast("double") / col("n_docs")))))
        val qdf = graft.operators.Eval.MrrQueries.flatMap { q =>
          q.split("\\s+").filter(_.nonEmpty).distinct.map(t => (q, t))
        }.toSeq
        val qframe = spark.createDataFrame(qdf).toDF("query", "token")
        val cand = scored.join(broadcast(qframe), "token")
          .groupBy(col("query"), col("doc_id"))
          .agg(sum(col("bm25")).as("score"), count(lit(1)).as("rel"))
        def g(rel: org.apache.spark.sql.Column, pos: org.apache.spark.sql.Column) =
          (pow(lit(2.0), rel) - lit(1.0)) / log2(pos + lit(1.0))
        val byScore = cand.withColumn("pos", row_number().over(
            Window.partitionBy(col("query")).orderBy(col("score").desc, col("doc_id"))))
          .filter(col("pos") <= k)
        val ideal = cand.withColumn("pos", row_number().over(
            Window.partitionBy(col("query")).orderBy(col("rel").desc, col("doc_id"))))
          .filter(col("pos") <= k)
        byScore.groupBy("query").agg(sum(g(col("rel"), col("pos"))).as("dcg"))
          .join(ideal.groupBy("query").agg(sum(g(col("rel"), col("pos"))).as("idcg")), "query")
          .select(col("query"), col("dcg"), col("idcg"), (col("dcg") / col("idcg")).as("ndcg"))
          .orderBy("query")
      }),

      "l4_keywords" -> (() => {
        // classic tf-idf + per-doc window top-3
        import org.apache.spark.sql.expressions.Window
        val toks = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
        val tf = toks.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
        val dfq = tf.groupBy("token").agg(count(lit(1)).as("df"))
        val n = docs.agg(count(lit(1)).as("n_docs"))
        tf.join(dfq, "token").crossJoin(broadcast(n))
          .withColumn("tf_idf", col("tf") * log(col("n_docs").cast("double") / col("df")))
          .withColumn("rnk", row_number().over(Window.partitionBy(col("doc_id"))
            .orderBy(col("tf_idf").desc, col("token"))))
          .filter(col("rnk") <= 3)
          .select(col("doc_id"), col("rnk"), col("token"), col("tf"), col("tf_idf"))
          .orderBy("doc_id", "rnk")
      }),

      "l8_stratified" -> (() => {
        // idiomatic exact-count stratified sample: per-stratum window rank
        // over a salted hash + a window count (the engine's stratumRank
        // trades these for a range exchange + broadcast offsets)
        import org.apache.spark.sql.expressions.Window
        val h = md5(concat(lit("strat|"), col("doc_id").cast("string")))
        docs.select(col("doc_id"), col("lang"), col("source"))
          .withColumn("stratum_size",
            count(lit(1)).over(Window.partitionBy("lang", "source")))
          .withColumn("rn", row_number().over(
            Window.partitionBy("lang", "source").orderBy(h, col("doc_id"))))
          .withColumn("sampled", col("rn") <= expr("(stratum_size * 200 + 999) DIV 1000"))
          .orderBy("doc_id")
      }),

      "l8_temperature_mix" -> (() => {
        // α=0.5 temperature mix: √-flattened per-language quotas computed
        // on a collected size table, then a per-language hash-rank window
        import org.apache.spark.sql.expressions.Window
        val sz = docs.groupBy("lang").agg(count(lit(1)).as("stratum_size"))
        val tot = sz.agg(sum(sqrt(col("stratum_size"))).as("z"),
          sum(col("stratum_size")).as("n"))
        val alloc = sz.crossJoin(broadcast(tot))
          .select(col("lang"), col("stratum_size"),
            ceil(col("n") * lit(0.5) * sqrt(col("stratum_size")) / col("z"))
              .cast("long").as("quota"))
        val h = md5(concat(lit("temp|"), col("doc_id").cast("string")))
        docs.select(col("doc_id"), col("lang"))
          .withColumn("rn", row_number().over(
            Window.partitionBy("lang").orderBy(h, col("doc_id"))))
          .join(broadcast(alloc), "lang")
          .select(col("doc_id"), col("lang"), col("stratum_size"), col("rn"),
            col("quota"), (col("rn") <= col("quota")).as("sampled"))
          .orderBy("doc_id")
      }),

      "l3_pq_topk" -> (() => {
        // the form an experienced user writes with MLlib: per-subspace
        // KMeans codebooks, codes via model.transform, ADC as a literal
        // code→distance map, exact cosine rescore of the top candidates
        import org.apache.spark.ml.clustering.KMeans
        import org.apache.spark.ml.linalg.Vectors
        val emb = spark.read.parquet(s"$dir/embeddings.parquet")
        val e = emb.select(col("vec_id"), col("label"),
          transform(col("embedding"), _.cast("double")).as("e"))
        val toVec = udf((a: Seq[Double]) => Vectors.dense(a.toArray))
        val qArr = e.filter(col("vec_id") === 0L).head()
          .getAs[scala.collection.Seq[Double]]("e").toArray
        var coded = e.select(col("vec_id"))
        for (j <- 0 until 4) {
          val sub = e.select(col("vec_id"),
            toVec(slice(col("e"), j * 16 + 1, 16)).as("features"))
          val km = new KMeans().setK(16).setMaxIter(3).setSeed(7 + j).fit(sub)
          val pred = km.transform(sub)
            .select(col("vec_id"), col("prediction").as(s"code_$j"))
          val qs = qArr.slice(j * 16, j * 16 + 16)
          val adc = km.clusterCenters.map(c =>
            c.toArray.zip(qs).map { case (x, y) => (x - y) * (x - y) }.sum)
          coded = coded.join(pred, "vec_id")
            .withColumn(s"adc_$j",
              element_at(typedLit(adc.indices.map(i => i -> adc(i)).toMap),
                col(s"code_$j")))
        }
        val cand = coded
          .withColumn("adc_d2", (0 until 4).map(j => col(s"adc_$j")).reduce(_ + _))
          .orderBy(col("adc_d2"), col("vec_id")).limit(40).select("vec_id")
        def dot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
          aggregate(zip_with(a, b, _ * _), lit(0.0), _ + _)
        val q = typedLit(qArr.toSeq)
        e.join(cand, "vec_id")
          .select(col("vec_id"), col("label"),
            (dot(col("e"), q) / sqrt(dot(col("e"), col("e")) * dot(q, q))).as("cosine"))
          .orderBy(col("cosine").desc, col("vec_id")).limit(10)
      }),

      "l3_batch_topk" -> (() => {
        // idiomatic batch scoring: corpus × query set, then a PER-QUERY
        // Window.partitionBy rank — each query's corpus-sized candidate
        // set funnels through one task (the shape the engine's
        // offset-localized distributedRank exists to avoid)
        import org.apache.spark.sql.expressions.Window
        val emb = spark.read.parquet(s"$dir/embeddings.parquet")
        val e = emb.select(col("vec_id"), col("label"),
          transform(col("embedding"), _.cast("double")).as("e"))
        val queries = e.filter(col("vec_id").isin(0L, 7L, 42L))
          .select(col("vec_id").as("query_id"), col("e").as("q"))
        def dot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
          aggregate(zip_with(a, b, _ * _), lit(0.0), _ + _)
        e.crossJoin(broadcast(queries))
          .select(col("query_id"), col("vec_id"), col("label"),
            (dot(col("e"), col("q")) /
              sqrt(dot(col("e"), col("e")) * dot(col("q"), col("q")))).as("cosine"))
          .withColumn("rnk", row_number().over(
            Window.partitionBy(col("query_id"))
              .orderBy(col("cosine").desc, col("vec_id"))))
          .filter(col("rnk") <= 10)
          .orderBy(col("query_id"), col("rnk"))
      }),

      "l4_bpe_train" -> (() => {
        // the naive formulation: train over the CORPUS token stream
        // (doc_id, pos) instead of the weighted distinct-word dictionary
        // — every merge round pays a corpus-sized window + shuffle where
        // the engine pays a vocabulary-sized one. Same algorithm, same
        // greedy run-parity application, same 4 rounds.
        import org.apache.spark.sql.expressions.Window
        val wd = Window.partitionBy(col("doc_id"), col("widx")).orderBy(col("pos"))
        var syms = docs
          .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("widx", "word")))
          .select(col("doc_id"), col("widx"),
            posexplode(transform(sequence(lit(1), length(col("word"))),
              i => col("word").substr(i, lit(1)))).as(Seq("pos", "sym")))
          .localCheckpoint()
        var out = Seq.empty[DataFrame]
        for (r <- 1 to 4) {
          val withNext = syms.withColumn("nxt", lead(col("sym"), 1).over(wd))
          val best = withNext.filter(col("nxt").isNotNull)
            .groupBy(col("sym"), col("nxt")).agg(count(lit(1)).as("n"))
            .orderBy(col("n").desc, col("sym"), col("nxt")).limit(1)
            .select(col("sym").as("l"), col("nxt").as("r"), col("n"))
            .localCheckpoint()
          out :+= best.select(lit(r).as("round"), col("l").as("lhs"),
            col("r").as("rhs"), col("n").as("n_occurrences"))
          val flagged = withNext.join(broadcast(best.select(col("l"), col("r"))),
            col("sym") === col("l") && col("nxt") === col("r"), "left_outer")
          val sel = flagged.filter(col("l").isNotNull)
            .select(col("doc_id"), col("widx"), col("pos"))
            .withColumn("grp", col("pos") - row_number().over(wd))
            .withColumn("idx", row_number().over(Window
              .partitionBy(col("doc_id"), col("widx"), col("grp")).orderBy(col("pos"))))
            .filter(col("idx") % 2 === 1)
            .select(col("doc_id"), col("widx"), col("pos"))
          syms = flagged.drop("l", "r")
            .join(sel.withColumn("sel", lit(true)),
              Seq("doc_id", "widx", "pos"), "left_outer")
            .join(sel.select(col("doc_id"), col("widx"), (col("pos") + 1).as("pos"))
              .withColumn("dropped", lit(true)), Seq("doc_id", "widx", "pos"), "left_outer")
            .filter(col("dropped").isNull)
            .select(col("doc_id"), col("widx"), col("pos").as("op"),
              when(col("sel"), concat(col("sym"), col("nxt"))).otherwise(col("sym")).as("sym"))
            .withColumn("pos", row_number().over(
              Window.partitionBy(col("doc_id"), col("widx")).orderBy(col("op"))))
            .drop("op")
            .localCheckpoint()
        }
        out.reduce(_ unionByName _).orderBy(col("round"))
      }),

      "s7_profile" -> (() => {
        // same column coverage as the declared query (TableCols is a data
        // constant, not an operator); naive per-column agg + union loop
        graft.operators.Profile.TableCols.flatMap { case (table, cols) =>
          val df = spark.read.parquet(s"$dir/$table.parquet")
          cols.map { case (c, cls) =>
            val base = df.agg(
              sum(when(col(c).isNull, 1L).otherwise(0L)).as("n_nulls"),
              countDistinct(col(c)).as("n_distinct"))
            val (nmin, nmax) = cls match {
              case "int" => (col(c).cast("long"), col(c).cast("long"))
              case "ts" => (col(c).cast("long"), col(c).cast("long"))
              case _ => (lit(null).cast("long"), lit(null).cast("long"))
            }
            df.agg(min(nmin).as("num_min"), max(nmax).as("num_max"))
              .crossJoin(base)
              .select(lit(table).as("table_name"), lit(c).as("col_name"),
                col("n_nulls"), col("n_distinct"), col("num_min"), col("num_max"))
          }
        }.reduce(_ unionByName _).orderBy("table_name", "col_name")
      }),

      "s7_profile_approx" -> (() => {
        // same naive per-column loop as the s7_profile twin, carrying
        // BOTH the HLL estimate and the exact distinct it is checked
        // against (the declared query's acceptance band needs the exact
        // count) — each column pays its own scan with two distinct
        // accumulators
        graft.operators.Profile.TableCols.flatMap { case (table, cols) =>
          val df = spark.read.parquet(s"$dir/$table.parquet")
          cols.map { case (c, _) =>
            df.agg(
              sum(when(col(c).isNull, 1L).otherwise(0L)).as("n_nulls"),
              approx_count_distinct(col(c)).as("nd_est"),
              countDistinct(col(c)).as("nd_exact"))
              .select(lit(table).as("table_name"), lit(c).as("col_name"),
                col("n_nulls"),
                (abs(col("nd_est") - col("nd_exact")) <=
                  greatest(lit(1L), ceil(col("nd_exact") * lit(0.15)).cast("long")))
                  .as("nd_est_ok"))
          }
        }.reduce(_ unionByName _).orderBy("table_name", "col_name")
      }),

      "o7_gap_fill" -> (() => {
        // idiomatic gap fill: one GLOBAL hour range crossed with every
        // user — the dense-grid-per-key naive form (the engine builds a
        // per-key lo..hi spine instead, so sparse keys don't inflate)
        import org.apache.spark.sql.expressions.Window
        val ev = spark.read.parquet(s"$dir/events.parquet")
        val hours = ev.select(col("user_id"),
          expr("unix_micros(date_trunc('hour', ts)) DIV 3600000000").as("hour_id"),
          col("value"))
        val buckets = hours.groupBy("user_id", "hour_id")
          .agg(count(lit(1)).as("n_events"), sum("value").as("hour_value"))
        val range = buckets.agg(min("hour_id").as("lo"), max("hour_id").as("hi"))
        val spine = buckets.select("user_id").distinct()
          .crossJoin(broadcast(range))
          .select(col("user_id"), explode(sequence(col("lo"), col("hi"))).as("hour_id"))
        val fill = Window.partitionBy("user_id").orderBy("hour_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        spine.join(buckets, Seq("user_id", "hour_id"), "left")
          .select(col("user_id"), col("hour_id"),
            coalesce(col("n_events"), lit(0L)).as("n_events"),
            last(col("hour_value"), ignoreNulls = true).over(fill).as("carried_value"))
          .orderBy("user_id", "hour_id")
      }),

      "m2_ann_recall" -> (() => {
        // vanilla recall@k: both rankings as double-cosine orderBy+limit,
        // then a plain join-count
        def emb = spark.read.parquet(s"$dir/embeddings.parquet")
        def dot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
          aggregate(zip_with(a, b, _ * _), lit(0.0), _ + _)
        val e = emb.select(col("vec_id"),
          transform(col("embedding"), _.cast("double")).as("e"),
          (0 until 6).map(i => (col("embedding").getItem(i) > 0).cast("int") * lit(1 << i))
            .reduce(_ + _).as("bucket"))
        val q = e.filter(col("vec_id") === 0L)
          .select(col("e").as("qe"), col("bucket").as("qbucket"))
        def scored(df: DataFrame) = df.crossJoin(broadcast(q))
          .select(col("vec_id"),
            (dot(col("e"), col("qe")) /
              sqrt(dot(col("e"), col("e")) * dot(col("qe"), col("qe")))).as("cosine"))
        val exact = scored(e).orderBy(col("cosine").desc, col("vec_id")).limit(10)
        val ann = scored(e.filter(col("bucket") === q.select("qbucket").first().getInt(0)))
          .orderBy(col("cosine").desc, col("vec_id")).limit(10)
        val a = ann.select("vec_id"); val x = exact.select("vec_id")
        x.agg(count(lit(1)).as("k_exact"))
          .crossJoin(a.agg(count(lit(1)).as("k_approx")))
          .crossJoin(a.join(x, "vec_id").agg(count(lit(1)).as("n_common")))
          .select(col("k_exact"), col("k_approx"), col("n_common"),
            (col("n_common") / col("k_exact")).as("recall"))
      }),

      "m4_drift" -> (() => {
        // idiomatic per-source KL in plain doubles — structurally the
        // engine's plan minus the integer micro-nat snap, so the ratio
        // prices the exactness discipline itself
        val toks = docs.select(col("source"), explode(split(col("text"), " ")).as("token"))
        val cg = toks.groupBy("source", "token").agg(count(lit(1)).as("c_gt"))
        val ct = cg.groupBy("token").agg(sum("c_gt").as("c_t"))
        val ng = cg.groupBy("source").agg(sum("c_gt").as("n_g"))
        val n = ct.agg(sum("c_t").as("n_total"))
        cg.join(ct, "token").join(broadcast(ng), "source").crossJoin(broadcast(n))
          .withColumn("term", col("c_gt") / col("n_g") *
            log((col("c_gt") * col("n_total")).cast("double") / (col("c_t") * col("n_g"))))
          .groupBy("source")
          .agg(max("n_g").as("n_tokens"), count(lit(1)).as("n_token_types"),
            sum("term").as("kl"))
          .orderBy("source")
      }),

      "l9_fuzzy_decontam" -> (() => {
        // idiomatic fuzzy decontamination: MLlib MinHashLSH bipartite
        // approxSimilarityJoin at Jaccard distance ≤ 0.2 (= similarity
        // ≥ 0.8, the engine's threshold) — the off-the-shelf reach; the
        // engine broadcasts banded benchmark signatures with a
        // size-ratio prune and a sorted-merge exact verify instead
        val d = docs.select(col("doc_id"), col("source"), col("text"),
          splitCol.as("split"))
        val tok = d.select(col("doc_id"), col("source"), col("split"),
          array_distinct(split(col("text"), " ")).as("toks"))
          .filter(size(col("toks")) > 0)
        val cv = new CountVectorizer().setInputCol("toks").setOutputCol("features")
          .setBinary(true).fit(tok)
        val feat = cv.transform(tok).persist()
        val train = feat.filter(col("split") === "train")
        val test = feat.filter(col("split") === "test")
        val mh = new MinHashLSH().setInputCol("features").setOutputCol("hashes")
          .setNumHashTables(16).fit(feat)
        val contaminated = mh.approxSimilarityJoin(train, test, 0.2, "dist")
          .select(col("datasetA.doc_id").as("doc_id")).distinct()
          .withColumn("contaminated", lit(true))
        train.select("doc_id", "source")
          .join(contaminated, Seq("doc_id"), "left")
          .groupBy("source")
          .agg(count(lit(1)).as("n_train"),
            sum(when(col("contaminated"), 1L).otherwise(0L)).as("n_contaminated"),
            sum(when(col("contaminated"), col("doc_id")).otherwise(0L))
              .as("contaminated_id_digest"))
          .orderBy("source")
      }),

      "l0_pipeline" -> (() => {
        // idiomatic composition of the four curation stages, each in its
        // naive form: exploded dup-span coverage, per-row Gopher rules,
        // the GLOBAL-window CCNet rank, and a GLOBAL-window cumulative-sum
        // pack — plus NO materialization between stages, so the whole
        // filter+LM chain re-executes under the bucket join-back (the
        // fusions and distributed ranks the engine's l0 exists for).
        // Thresholds are the engine's published constants; the logic is
        // written the way a user would first write it.
        import org.apache.spark.sql.expressions.Window
        import graft.operators.{Curation, Dedup, TextOps}
        val spanKeep = dupCoverageNaive(docs)
          .filter(expr(s"covered_tokens * 1000 DIV n_tokens") <=
            Dedup.DupSpanMaxCoveragePermille)
          .select("doc_id")
        val ts = split(col("text"), " ")
        val grams = zip_with(
          slice(ts, lit(1), greatest(size(ts) - lit(1), lit(0))),
          slice(ts, lit(2), greatest(size(ts) - lit(1), lit(0))),
          (a, b) => concat_ws(" ", a, b))
        val gopherKeep = docs
          .select(col("doc_id"),
            size(ts).as("n_tokens"),
            aggregate(transform(ts, length(_)), lit(0L), _ + _).as("sum_tok_len"),
            size(filter(ts, t => t.rlike("[A-Za-z]"))).as("n_alpha"),
            size(filter(typedLit(TextOps.GopherRequiredStops),
              s => array_contains(ts, s))).as("stop_hits"),
            regexp_count(col("text"), lit("#|\\.\\.\\.")).as("n_symbols"),
            (size(grams) - size(array_distinct(grams))).as("n_dup_bigrams"),
            greatest(size(grams), lit(1)).as("n_bigrams"))
          .filter(
            col("n_tokens").between(TextOps.GopherMinWords, TextOps.GopherMaxWords) &&
            expr("sum_tok_len * 1000 DIV n_tokens")
              .between(TextOps.GopherMinMeanLenPermille, TextOps.GopherMaxMeanLenPermille) &&
            expr("n_alpha * 1000 DIV n_tokens") >= TextOps.GopherMinAlphaPermille &&
            col("stop_hits") >= TextOps.GopherMinStopHits &&
            expr("n_symbols * 1000 DIV n_tokens") <= TextOps.GopherMaxSymbolPermille &&
            expr("n_dup_bigrams * 1000 DIV n_bigrams") <= TextOps.GopherMaxDupBigramPermille)
          .select("doc_id")
        val survivors = docs.join(gopherKeep, "doc_id").join(spanKeep, "doc_id")
        val bucketed = ccnetNaive(survivors).filter(col("bucket") =!= "tail")
        val packed = bucketed
          .withColumn("tokens_before",
            coalesce(sum(col("n_tokens")).over(Window.orderBy(col("doc_id"))
              .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
          .select(col("doc_id"), col("n_tokens"),
            expr(s"tokens_before DIV ${Curation.PackBudget}L").as("bin"))
        packed.join(bucketed.select(col("doc_id"), col("bucket")), "doc_id")
          .select(col("doc_id"), col("n_tokens"), col("bucket"), col("bin"))
          .orderBy("doc_id")
      }),

      "l11_semantic_dedup" -> (() => {
        // idiomatic SemDeDup: MLlib KMeans for the coarse quantizer (the
        // off-the-shelf clustering a user reaches for), then a plain
        // within-cell self-join scoring EVERY pair with the interpreted
        // HOF double cosine — no salting, no screen/confirm split
        import org.apache.spark.ml.clustering.KMeans
        import org.apache.spark.ml.functions.array_to_vector
        def emb = spark.read.parquet(s"$dir/embeddings.parquet")
        val k = graft.operators.Similarity.semCellsFor(emb.count())
        val feat = emb.select(col("vec_id"),
          transform(col("embedding"), _.cast("double")).as("e"),
          array_to_vector(col("embedding")).as("features"))
        val model = new KMeans().setK(k).setMaxIter(3).setSeed(0L).fit(feat)
        val cells = model.transform(feat)
          .select(col("vec_id"), col("e"), col("prediction").as("cell"))
        def dot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
          aggregate(zip_with(a, b, _ * _), lit(0.0), _ + _)
        val pairs = cells.as("x").join(cells.as("y"),
          col("x.cell") === col("y.cell") && col("x.vec_id") < col("y.vec_id"))
          .select(col("x.vec_id").as("a_id"), col("y.vec_id").as("b_id"),
            (dot(col("x.e"), col("y.e")) /
              sqrt(dot(col("x.e"), col("x.e")) * dot(col("y.e"), col("y.e")))).as("cosine"))
        val dropped = pairs.filter(col("cosine") >= graft.operators.Similarity.SemTau)
          .select(col("b_id").as("vec_id")).distinct().withColumn("dropped", lit(true))
        cells.join(dropped, Seq("vec_id"), "left")
          .groupBy("cell")
          .agg(count(lit(1)).as("n_vecs"),
            sum(when(col("dropped"), 1L).otherwise(0L)).as("n_dropped"),
            sum(when(col("dropped"), col("vec_id")).otherwise(0L)).as("dropped_id_digest"))
          .orderBy("cell")
      }))
    twins
  }

  private def measure(twins: Seq[(String, () => DataFrame)],
                      keep: String => Boolean, dir: String): Seq[(String, Double)] = {
    val only = sys.env.get("SPARK_GRAFT_BASELINE_QUERIES")
      .map(_.split(",").map(_.trim).toSet)
    val picked = twins.filter { case (n, _) => only.forall(_.contains(n)) && keep(n) }
    // warm best-of-3 — the SAME basis as the engine side of TWINS.json
    val results = picked.map { case (name, q) =>
      val r = Bench.warmBest("tail-twin", name)(q().write.format("noop").mode("overwrite").save())
      println(f"tail_twin $name%-18s noop=$r%.3f")
      name -> r
    }
    println(s"""{"vanilla_tail":${Bench.toJson(results)},"sf":"$dir"}""")
    results
  }
}

/** Per-round twin-ratio artifact: measures the vanilla tail twins AND
  * their engine counterparts in one run and writes `TWINS.json`
  * (query → twin s / engine s / ratio) — replacing BASELINE.md's
  * hand-edited twin tables, whose engine numbers drifted stale within a
  * round of being written. BASELINE.md keeps one pointer paragraph; the
  * artifact is the source of truth and is regenerated each round.
  *
  * Both sides measure warm best-of-3 noop-sink (symmetric as of round
  * 10 — the single-shot twin basis of rounds 7–9 included first-run JIT
  * on one side only, which flipped sub-second ratios ±30% between runs).
  * The MLlib
  * `approxSimilarityJoin` twin family is quadratic-explosion-bound on
  * the dense fixture (killed after 20 min at sf0.1 in round 7), so
  * those pairs measure at sf0.01 where the twin completes — recorded
  * per query in the artifact's `sf` field.
  */
object Twins {
  val SmallSfTwins: Set[String] = Set("l6_simjoin", "l6_ngram_simjoin", "l6_dedup_docs")

  def main(args: Array[String]): Unit = {
    val bigSf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val smallSf = sys.env.getOrElse("SPARK_GRAFT_TWINS_SMALL_SF_DIR", "/root/testdata/sf0.01")
    val out = sys.env.getOrElse("SPARK_GRAFT_TWINS_OUT",
      java.nio.file.Paths.get(sys.props("user.dir"), "TWINS.json").toString)
    // vanilla side first — each sf in its own stock session
    val twinBig = TailTwins.run(bigSf, n => !SmallSfTwins(n))
    val twinSmall = TailTwins.run(smallSf, SmallSfTwins)
    val sfOf = (twinBig.map(_._1 -> bigSf) ++ twinSmall.map(_._1 -> smallSf)).toMap
    // engine side in the graft session, warm best-of-3 per query at the
    // SAME sf as its twin
    val spark = Engine.session("graft-twins")
    val qs = SparkEntry.queries
    val pairs = (twinBig ++ twinSmall).map { case (name, twinS) =>
      val engineS = if (!qs.contains(name)) -1.0
        else Bench.warmBest("twins", s"engine $name")(
          qs(name)(spark, sfOf(name)).write.format("noop").mode("overwrite").save())
      println(f"twin_ratio $name%-18s twin=$twinS%.3f engine=$engineS%.3f")
      (name, twinS, engineS)
    }
    spark.stop()
    import Bench.fmt
    val entries = pairs.sortBy(_._1).map { case (name, t, e) =>
      val ratio = if (t > 0 && e >= 0) e / t else -1.0
      s""""$name":{"twin_s":${fmt(t)},"engine_s":${fmt(e)},"ratio":${fmt(ratio)},"sf":"${sfOf(name)}"}"""
    }
    val json = entries.mkString(
      s"""{"generator":"graft.Twins","twin_action":"warm best-of-3 noop","engine_action":"warm best-of-3 noop","queries":{""",
      ",", "}}\n")
    java.nio.file.Files.write(java.nio.file.Paths.get(out), json.getBytes("UTF-8"))
    println(s"[twins] artifact written to $out")
  }
}
