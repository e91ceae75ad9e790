package graft.relational

import graft.core.{Rng, Tables}
import graft.llm.Dedup
import graft.sampling.Resample
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.SparkSession

/** Seventh relational batch: market-basket pair mining, Markov event
  * transitions, one-pass table profiling, degree histograms, and an
  * inverted-index build — the remaining "data warehouse utilities" a
  * 100 TB pipeline leans on daily.
  */
object RelationalQueries7 {
  import QueryDef._

  private def t(s: SparkSession, d: String, n: String) = Tables(s, d, n)

  private val normSql =
    "TRIM(regexp_replace(LOWER(text), '\\s+', ' ', 'g'))"

  val all: Seq[QueryDef] = Seq(

    // ---- market-basket pair mining: top co-occurring part pairs
    //      within an order. r14: the self-join (two scans of lineitem;
    //      a 600k-row broadcast build locally, TWO full shuffles at
    //      scale once the table outgrows the broadcast threshold) is
    //      replaced by the classic basket expansion — ONE shuffle of
    //      (orderkey, partkey) into per-order baskets, then a codegen'd
    //      double Generate expands position pairs with p1 < p2. Pair
    //      multiplicity is identical to the row self-join
    //      (cnt(p1)·cnt(p2) per order; the strict < drops equal-part
    //      pairs exactly as the join condition did), per-order state is
    //      bounded by the basket size (~4–7 lines in TPC-H shape), and
    //      the not-null filters replicate the join's key semantics.
    //      DATA-SHAPE ASSUMPTION (r15): a collect_list group cannot be
    //      split by AQE skew handling, so this trades the self-join's
    //      skew-splittability for the one-shuffle plan — safe ONLY
    //      while per-order line counts stay bounded (TPC-H shape: ≤ 7;
    //      a pathological hot order key would concentrate its whole
    //      quadratic expansion in one task). The debug-flag guard below
    //      makes a violated assumption loud instead of a straggler. ----
    sqlChecked("a_basket_pairs",
      """SELECT a.l_partkey AS p1, b.l_partkey AS p2, COUNT(*) AS cnt
        |FROM lineitem a JOIN lineitem b
        |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |GROUP BY 1, 2 ORDER BY cnt DESC, p1, p2 LIMIT 20""".stripMargin) { (s, d) =>
      val li = t(s, d, "lineitem")
        .filter(col("l_orderkey").isNotNull && col("l_partkey").isNotNull)
        .select(col("l_orderkey"), col("l_partkey"))
      if (graft.core.DebugChecks.enabled) {
        // an empty lineitem has no baskets: max is NULL, read as 0
        val mx = li.groupBy(col("l_orderkey")).agg(count(lit(1)).as("n"))
          .agg(coalesce(max(col("n")), lit(0L))).head().getLong(0)
        require(mx <= 1000, s"a_basket_pairs assumes bounded baskets but " +
          s"one order has $mx lines — its quadratic pair expansion would " +
          "land in a single unsplittable task")
      }
      li.groupBy(col("l_orderkey"))
        .agg(collect_list(col("l_partkey")).as("ps"))
        .select(explode(col("ps")).as("p1"), col("ps"))
        .select(col("p1"), explode(col("ps")).as("p2"))
        .filter(col("p1") < col("p2"))
        .groupBy(col("p1"), col("p2"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("p1"), col("p2"))
        .limit(20)
    },

    // ---- first-order Markov transition matrix over the event stream:
    //      per-user lag, then (prev → curr) counts and row-normalized
    //      transition probabilities. The lag window partitions on
    //      user_id (fully distributed); the probability normalizer is
    //      a second window over the 5×5 transition table — trivially
    //      small however large the input. ----
    sqlChecked("ev_transitions",
      """WITH seq AS (SELECT user_id, event_type,
        |    LAG(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS prev
        |  FROM events),
        |c AS (SELECT prev, event_type AS curr, COUNT(*) AS cnt
        |  FROM seq WHERE prev IS NOT NULL GROUP BY 1, 2)
        |SELECT prev, curr, cnt,
        |  ROUND(CAST(cnt AS DOUBLE) / SUM(cnt) OVER (PARTITION BY prev), 6)
        |    AS p
        |FROM c ORDER BY prev, curr""".stripMargin) { (s, d) =>
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val seq = Tables.events(s, d)
        .select(col("user_id"), col("event_type"),
          lag(col("event_type"), 1).over(byUser).as("prev"))
      val c = seq.filter(col("prev").isNotNull)
        .groupBy(col("prev"), col("event_type").as("curr"))
        .agg(count(lit(1)).as("cnt"))
      c.withColumn("p",
          round(col("cnt").cast("double") /
            sum(col("cnt")).over(Window.partitionBy(col("prev"))), 6))
        .orderBy(col("prev"), col("curr"))
    },

    // ---- one-pass table profiling: per-column null count, distinct
    //      count, and min/max for the customer table. The engine runs
    //      ONE aggregate (multi-count-distinct expands to a single
    //      scan via Expand) and pivots the result row to one row per
    //      column — the everyday data-quality primitive. ----
    sqlChecked("s13_profile",
      """SELECT 'c_acctbal' AS col, COUNT(*) - COUNT(c_acctbal) AS n_null,
        |  COUNT(DISTINCT c_acctbal) AS n_distinct,
        |  ROUND(MIN(c_acctbal), 2) AS min_num, ROUND(MAX(c_acctbal), 2) AS max_num,
        |  CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str
        |FROM customer
        |UNION ALL SELECT 'c_custkey', COUNT(*) - COUNT(c_custkey),
        |  COUNT(DISTINCT c_custkey), ROUND(CAST(MIN(c_custkey) AS DOUBLE), 2),
        |  ROUND(CAST(MAX(c_custkey) AS DOUBLE), 2), NULL, NULL FROM customer
        |UNION ALL SELECT 'c_mktsegment', COUNT(*) - COUNT(c_mktsegment),
        |  COUNT(DISTINCT c_mktsegment), NULL, NULL,
        |  MIN(c_mktsegment), MAX(c_mktsegment) FROM customer
        |UNION ALL SELECT 'c_name', COUNT(*) - COUNT(c_name),
        |  COUNT(DISTINCT c_name), NULL, NULL,
        |  MIN(c_name), MAX(c_name) FROM customer
        |UNION ALL SELECT 'c_nationkey', COUNT(*) - COUNT(c_nationkey),
        |  COUNT(DISTINCT c_nationkey), ROUND(CAST(MIN(c_nationkey) AS DOUBLE), 2),
        |  ROUND(CAST(MAX(c_nationkey) AS DOUBLE), 2), NULL, NULL FROM customer
        |ORDER BY col""".stripMargin) { (s, d) =>
      val c = t(s, d, "customer")
      val numCols = Seq("c_acctbal", "c_custkey", "c_nationkey")
      val strCols = Seq("c_mktsegment", "c_name")
      val aggs = (numCols ++ strCols).flatMap { n =>
        Seq(
          (count(lit(1)) - count(col(n))).as(s"${n}__null"),
          countDistinct(col(n)).as(s"${n}__dist")) ++
          (if (numCols.contains(n))
            Seq(round(min(col(n)).cast("double"), 2).as(s"${n}__min"),
              round(max(col(n)).cast("double"), 2).as(s"${n}__max"))
          else
            Seq(min(col(n)).as(s"${n}__min"), max(col(n)).as(s"${n}__max")))
      }
      val row = c.agg(aggs.head, aggs.tail: _*)
      val entries = (numCols ++ strCols).sorted.map { n =>
        struct(lit(n).as("col"), col(s"${n}__null").as("n_null"),
          col(s"${n}__dist").as("n_distinct"),
          (if (numCols.contains(n)) col(s"${n}__min")
           else lit(null).cast("double")).as("min_num"),
          (if (numCols.contains(n)) col(s"${n}__max")
           else lit(null).cast("double")).as("max_num"),
          (if (strCols.contains(n)) col(s"${n}__min")
           else lit(null).cast("string")).as("min_str"),
          (if (strCols.contains(n)) col(s"${n}__max")
           else lit(null).cast("string")).as("max_str"))
      }
      row.select(explode(array(entries: _*)).as("e"))
        .select(col("e.*"))
        .orderBy(col("col"))
    },

    // ---- degree histogram (frequency of frequencies): orders per
    //      customer, then customer count per order count — the graph
    //      degree-distribution shape. Zero-order customers enter via
    //      the left join; both aggregations shuffle on small keys. ----
    sqlChecked("g_degree_hist",
      """WITH deg AS (SELECT c.c_custkey,
        |    COUNT(o.o_orderkey) AS n_orders
        |  FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
        |  GROUP BY 1)
        |SELECT n_orders, COUNT(*) AS n_customers
        |FROM deg GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val perCust = t(s, d, "orders")
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_orders"))
      t(s, d, "customer").select(col("c_custkey"))
        .join(perCust, col("o_custkey") === col("c_custkey"), "left")
        .select(coalesce(col("n_orders"), lit(0L)).as("n_orders"))
        .groupBy(col("n_orders")).agg(count(lit(1)).as("n_customers"))
        .orderBy(col("n_orders"))
    },

    // ---- inverted-index build: token → document-frequency + sorted
    //      posting list for the 10 rarest terms (the selective payload
    //      a retrieval stack actually serves; stopword-grade terms are
    //      exactly the ones an index prunes). Distinct (doc, term)
    //      pairs shuffle once on term; posting lists are sorted
    //      arrays; the rare-term cut is a TakeOrdered over the tiny
    //      per-term df table, so list size stays df-bounded however
    //      large the corpus. ----
    sqlChecked("t_inverted_index",
      s"""WITH toks AS (SELECT DISTINCT doc_id,
         |    unnest(string_split($normSql, ' ')) AS term FROM documents),
         |p AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df,
         |    string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)
         |      AS postings
         |  FROM toks GROUP BY term)
         |SELECT term, df, postings FROM p
         |ORDER BY df, term LIMIT 10""".stripMargin) { (s, d) =>
      val toks = t(s, d, "documents")
        .select(col("doc_id"),
          explode(split(Dedup.normalize(col("text")), " ")).as("term"))
        .distinct()
      toks.groupBy(col("term"))
        .agg(count(lit(1)).as("df"),
          array_join(
            transform(sort_array(collect_list(col("doc_id"))),
              x => x.cast("string")), ",").as("postings"))
        .orderBy(col("df"), col("term"))
        .limit(10)
    },

    // ---- DSv2 population source, oracle-checked end-to-end: read the
    //      custom TableProvider (spark.read.format) and roll up the
    //      generated stream; DuckDB replays the identical RNG over
    //      generate_series. Proves the V2 reader, its partition
    //      planning, and the JVM RNG twin all agree with the SQL
    //      stream — not just with each other. ----
    sqlChecked("s14_dsv2_source",
      s"""WITH g AS (SELECT i AS id,
         |    ${graft.core.Rng.uniformSql("i", 9L)} AS u,
         |    SQRT(-2 * LN(${graft.core.Rng.uniformSql("i", 9L)}))
         |      * COS(2 * PI() * ${graft.core.Rng.uniformSql("i", 1000012L)})
         |      AS z
         |  FROM generate_series(1, 50000) t(i))
         |SELECT CAST(COUNT(*) AS BIGINT) AS n,
         |  CAST(MIN(id) AS BIGINT) AS min_id, CAST(MAX(id) AS BIGINT) AS max_id,
         |  ROUND(AVG(u), 8) AS mean_u, ROUND(AVG(z), 6) AS mean_z,
         |  ROUND(var_samp(z), 5) AS var_z
         |FROM g""".stripMargin) { (s, _) =>
      s.read.format("graft.sources.PopulationSource")
        .option("n", 50000).option("partitions", 8).option("seed", 9)
        .load()
        .agg(count(lit(1)).as("n"), min(col("id")).as("min_id"),
          max(col("id")).as("max_id"),
          round(avg(col("u")), 8).as("mean_u"),
          round(avg(col("z")), 6).as("mean_z"),
          round(var_samp(col("z")), 5).as("var_z"))
    },

    // ---- BPE merge-pair statistics: the core byte-pair-encoding
    //      training step — count adjacent character pairs across the
    //      corpus, weighted by word frequency. The corpus collapses to
    //      the (tiny) word-frequency table FIRST, so the character
    //      explosion runs over distinct words, not raw text — at
    //      100 TB the pair counting is vocabulary-sized. ----
    sqlChecked("t_bpe_pairs",
      s"""WITH words AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS freq
         |  FROM (SELECT unnest(string_split($normSql, ' ')) AS w
         |        FROM documents) GROUP BY w),
         |pairs AS (SELECT substr(w, i, 1) || '|' || substr(w, i + 1, 1)
         |      AS pair, freq
         |  FROM words, (SELECT unnest(generate_series(1, 40)) AS i)
         |  WHERE i < len(w))
         |SELECT pair, CAST(SUM(freq) AS BIGINT) AS cnt FROM pairs
         |GROUP BY pair ORDER BY cnt DESC, pair LIMIT 15""".stripMargin) { (s, d) =>
      val words = t(s, d, "documents")
        .select(explode(split(Dedup.normalize(col("text")), " ")).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      // Spark's split("", -1) keeps a trailing empty element; `get` is
      // 0-based and ANSI-safe (null out of bounds, never a throw)
      words
        .select(col("freq"), split(col("w"), "").as("cs"))
        .select(col("freq"), col("cs"),
          posexplode(col("cs")).as(Seq("p", "ch")))
        .withColumn("nxt", get(col("cs"), col("p") + 1))
        .filter(col("ch") =!= "" && col("nxt").isNotNull && col("nxt") =!= "")
        .select(concat(col("ch"), lit("|"), col("nxt")).as("pair"), col("freq"))
        .groupBy(col("pair")).agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("pair"))
        .limit(15)
    },

    // ---- exact-size stratified sample: a fixed per-language document
    //      quota drawn by ranking the deterministic cross-engine RNG
    //      stream within each stratum (distributed SRSWOR — the
    //      training-set curation primitive when proportional hash
    //      splits over/under-fill small strata). The rank window
    //      partitions on the stratum, so parallelism follows the
    //      stratum count; the RNG is the engine's bit-reproducible
    //      uniform, so DuckDB draws the identical sample. ----
    sqlChecked("d16_stratified_split",
      s"""WITH r AS (SELECT doc_id, lang, source,
         |    ROW_NUMBER() OVER (PARTITION BY lang
         |      ORDER BY ${Rng.uniformSql("doc_id", 7L)}, doc_id) AS rk
         |  FROM documents)
         |SELECT doc_id, lang, source FROM r WHERE rk <= 40
         |ORDER BY lang, doc_id""".stripMargin) { (s, d) =>
      Resample.stratifiedFixed(
          t(s, d, "documents").select(col("doc_id"), col("lang"), col("source")),
          col("lang"), col("doc_id"), n = 40, salt = 7L)
        .orderBy(col("lang"), col("doc_id"))
    },

    // ---- higher-order lambda battery over the embedding arrays:
    //      filter / transform / exists / forall — all codegen-free
    //      Catalyst lambda functions (never a Scala UDF), replayed by
    //      DuckDB's list_* lambdas. ----
    sqlChecked("f_lambda",
      """SELECT vec_id,
        |  len(list_filter(CAST(embedding AS DOUBLE[]), x -> x > 0))
        |    AS n_pos,
        |  ROUND(list_sum(list_transform(CAST(embedding AS DOUBLE[]),
        |    x -> x * x)), 5) AS sum_sq,
        |  CASE WHEN len(list_filter(CAST(embedding AS DOUBLE[]),
        |    x -> x > 0.2)) > 0 THEN 1 ELSE 0 END AS any_hot,
        |  CASE WHEN len(list_filter(CAST(embedding AS DOUBLE[]),
        |    x -> ABS(x) <= 0.5)) = len(embedding) THEN 1 ELSE 0 END
        |    AS all_small
        |FROM embeddings ORDER BY vec_id""".stripMargin) { (s, d) =>
      val v = col("embedding").cast("array<double>")
      t(s, d, "embeddings").select(col("vec_id"),
          size(filter(v, x => x > 0)).as("n_pos"),
          round(aggregate(transform(v, x => x * x), lit(0.0), _ + _), 5)
            .as("sum_sq"),
          when(exists(v, x => x > 0.2), 1).otherwise(0).as("any_hot"),
          when(forall(v, x => abs(x) <= 0.5), 1).otherwise(0).as("all_small"))
        .orderBy(col("vec_id"))
    },

    // ---- pointwise mutual information of token pairs: which terms
    //      co-occur in documents beyond chance. Candidate pairs come
    //      from a per-document self-join on the DISTINCT (doc, term)
    //      stream — bounded by per-doc vocabulary, not corpus size —
    //      and the PMI join against per-term df is a broadcast of the
    //      (tiny) vocabulary table. ----
    sqlChecked("t_pmi",
      s"""WITH toks AS (SELECT DISTINCT doc_id,
         |    unnest(string_split($normSql, ' ')) AS term FROM documents),
         |n(n) AS (SELECT CAST(COUNT(*) AS DOUBLE) FROM documents),
         |df AS (SELECT term, CAST(COUNT(*) AS DOUBLE) AS df
         |  FROM toks GROUP BY term),
         |co AS (SELECT a.term AS w1, b.term AS w2,
         |    CAST(COUNT(*) AS DOUBLE) AS codf
         |  FROM toks a JOIN toks b
         |    ON a.doc_id = b.doc_id AND a.term < b.term
         |  GROUP BY 1, 2)
         |SELECT w1, w2, CAST(codf AS BIGINT) AS codf,
         |  ROUND(LN(codf * n / (d1.df * d2.df)), 6) AS pmi
         |FROM co JOIN df d1 ON d1.term = w1 JOIN df d2 ON d2.term = w2
         |  CROSS JOIN n
         |WHERE codf >= 5
         |ORDER BY pmi DESC, w1, w2 LIMIT 15""".stripMargin) { (s, d) =>
      val docs = t(s, d, "documents")
      val toks = docs.select(col("doc_id"),
          explode(split(Dedup.normalize(col("text")), " ")).as("term"))
        .distinct()
      val n = docs.count().toDouble
      val df = toks.groupBy(col("term"))
        .agg(count(lit(1)).cast("double").as("df"))
      val co = toks.as("a").join(toks.as("b"),
          col("a.doc_id") === col("b.doc_id") &&
            col("a.term") < col("b.term"))
        .groupBy(col("a.term").as("w1"), col("b.term").as("w2"))
        .agg(count(lit(1)).cast("double").as("codf"))
      co.filter(col("codf") >= 5)
        .join(broadcast(df.select(col("term").as("w1"), col("df").as("df1"))),
          Seq("w1"))
        .join(broadcast(df.select(col("term").as("w2"), col("df").as("df2"))),
          Seq("w2"))
        .select(col("w1"), col("w2"), col("codf").cast("long").as("codf"),
          round(log(col("codf") * n / (col("df1") * col("df2"))), 6).as("pmi"))
        .orderBy(col("pmi").desc, col("w1"), col("w2"))
        .limit(15)
    },

    // ---- top event 3-paths: most frequent length-3 event-type
    //      sequences per user (funnel discovery, one step past the
    //      first-order ev_transitions matrix). Two LEADs in one
    //      user-partitioned window pass, then a count over the tiny
    //      pattern space. ----
    sqlChecked("ev_paths",
      """WITH s AS (SELECT event_type AS e1,
        |    LEAD(event_type, 1) OVER w AS e2,
        |    LEAD(event_type, 2) OVER w AS e3
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT e1 || '>' || e2 || '>' || e3 AS path, COUNT(*) AS cnt
        |FROM s WHERE e3 IS NOT NULL
        |GROUP BY 1 ORDER BY cnt DESC, path LIMIT 10""".stripMargin) { (s, d) =>
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      Tables.events(s, d)
        .select(col("event_type").as("e1"),
          lead(col("event_type"), 1).over(w).as("e2"),
          lead(col("event_type"), 2).over(w).as("e3"))
        .filter(col("e3").isNotNull)
        .groupBy(concat_ws(">", col("e1"), col("e2"), col("e3")).as("path"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("path"))
        .limit(10)
    },

    // ---- truncated EWMA smoothing of the hourly event-count series:
    //      ewma(t) = Σ_{k=0..12} α(1−α)^k v(t−k·1h), renormalized over
    //      the terms actually present (robust to gap hours). The lag
    //      terms come from an integer epoch equi-join against a
    //      13-row broadcast weight table — no global-order window, so
    //      the smoother stays fully partition-parallel at any scale. ----
    sqlChecked("w_ewma",
      s"""WITH h AS (${RelationalQueries6.hourlySql}),
         |wt AS (SELECT k, 0.3 * POW(0.7, k) AS wt
         |  FROM (SELECT unnest(generate_series(0, 12)) AS k)),
         |e AS (SELECT a.hre, SUM(wt.wt * b.v) / SUM(wt.wt) AS ewma
         |  FROM h a CROSS JOIN wt JOIN h b ON b.hre = a.hre - wt.k * 3600
         |  GROUP BY a.hre)
         |SELECT hre, ROUND(ewma, 6) AS ewma FROM e ORDER BY hre""".stripMargin) { (s, d) =>
      import s.implicits._
      val h = RelationalQueries6.hourly(s, d)
      val wt = (0 to 12).map(k => (k, 0.3 * math.pow(0.7, k)))
        .toDF("k", "wt")
      h.as("a").crossJoin(broadcast(wt))
        .join(h.as("b"), col("b.hre") === col("a.hre") - col("k") * 3600)
        .groupBy(col("a.hre").as("hre"))
        .agg((sum(col("wt") * col("b.v")) / sum(col("wt"))).as("ewma"))
        .select(col("hre"), round(col("ewma"), 6).as("ewma"))
        .orderBy(col("hre"))
    },

    // ---- Z-order (Morton-curve) clustering for two-dimensional data
    //      skipping: interleave 10 bits each of part and supplier key,
    //      bucket the curve into 256 runs (the write-time file split),
    //      and measure every bucket's bounding box in BOTH dims against
    //      the same table bucketed in natural (order-key) layout. The
    //      z-layout's total bbox area is orders of magnitude smaller —
    //      exactly the min/max-stats pruning a 100 TB scan gets when
    //      the sort key is the z-value instead of one column. All
    //      outputs are exact BIGINTs (no float drift); the curve is a
    //      codegen'd shift/mask expression (core/ZOrder). ----
    sqlChecked("s15_zorder", {
      val zSql = graft.core.ZOrder.zValueSql(Seq("px", "sx"), 10)
      s"""WITH b AS (SELECT l_partkey % 1024 AS px, l_suppkey % 1024 AS sx,
         |    l_orderkey AS ok FROM lineitem),
         |mx AS (SELECT MAX(ok) AS mok FROM b),
         |z AS (SELECT px, sx, $zSql // 4096 AS bucket FROM b),
         |n AS (SELECT px, sx,
         |    CAST(FLOOR(ok * 256.0 / (mok + 1)) AS BIGINT) AS bucket
         |  FROM b, mx),
         |za AS (SELECT bucket,
         |    (MAX(px) - MIN(px) + 1) * (MAX(sx) - MIN(sx) + 1) AS area
         |  FROM z GROUP BY bucket),
         |na AS (SELECT bucket,
         |    (MAX(px) - MIN(px) + 1) * (MAX(sx) - MIN(sx) + 1) AS area
         |  FROM n GROUP BY bucket)
         |SELECT 'natural' AS layout, CAST(COUNT(*) AS BIGINT) AS n_buckets,
         |  CAST(SUM(area) AS BIGINT) AS total_bbox_area,
         |  CAST(MAX(area) AS BIGINT) AS max_bbox_area FROM na
         |UNION ALL
         |SELECT 'zorder', CAST(COUNT(*) AS BIGINT),
         |  CAST(SUM(area) AS BIGINT), CAST(MAX(area) AS BIGINT) FROM za
         |ORDER BY layout""".stripMargin
    }) { (s, d) =>
      val b = t(s, d, "lineitem").select(
        (col("l_partkey") % 1024).cast("long").as("px"),
        (col("l_suppkey") % 1024).cast("long").as("sx"),
        col("l_orderkey").cast("long").as("ok"))
      val mx = b.agg(max(col("ok")).as("mok"))
      val z = b.withColumn("bucket",
        (graft.core.ZOrder.zValue(Seq(col("px"), col("sx")), 10) /
          lit(4096L)).cast("long"))
      val n = b.crossJoin(broadcast(mx)).withColumn("bucket",
        floor(col("ok") * 256.0 / (col("mok") + 1)).cast("long"))
      def areas(df: org.apache.spark.sql.DataFrame, name: String) =
        df.groupBy(col("bucket"))
          .agg(((max(col("px")) - min(col("px")) + 1) *
            (max(col("sx")) - min(col("sx")) + 1)).as("area"))
          .agg(count(lit(1)).as("n_buckets"),
            sum(col("area")).as("total_bbox_area"),
            max(col("area")).as("max_bbox_area"))
          .select(lit(name).as("layout"), col("n_buckets"),
            col("total_bbox_area"), col("max_bbox_area"))
      areas(n, "natural").unionAll(areas(z, "zorder"))
        .orderBy(col("layout"))
    },

    // ---- j11: the RANGE-JOIN OPTIMIZER RULE end-to-end — the same
    //      point-in-interval semantics as j9, but written as the naive
    //      `p BETWEEN lo AND hi` join a user would type; the injected
    //      Catalyst rule (plans/RangeJoinRewrite, installed via
    //      GraftFunctions.install / GraftExtensions) rewrites it into
    //      the bucketed equi-join automatically. Same oracle as a
    //      plain SQL BETWEEN join — the rewrite must be invisible. ----
    sqlChecked("j11_range_auto",
      """WITH promo AS (SELECT i AS promo_id,
        |    9131 + i * 180 AS lo, 9131 + i * 180 + 250 AS hi
        |  FROM generate_series(0, 11) t(i)),
        |pts AS (SELECT o_orderkey,
        |    date_diff('day', TIMESTAMP '1970-01-01', o_orderdate) AS d
        |  FROM orders)
        |SELECT p.o_orderkey, CAST(pr.promo_id AS BIGINT) AS promo_id
        |FROM pts p JOIN promo pr ON p.d BETWEEN pr.lo AND pr.hi
        |ORDER BY o_orderkey, promo_id""".stripMargin) { (s, d) =>
      import s.implicits._
      graft.functions.GraftFunctions.install(s)
      // the width conf is session-global: set it, force planning (the
      // rule reads the conf at OPTIMIZATION time, so the plan must be
      // built while the width is active — queryExecution caches it),
      // then restore so later queries in the shared session see their
      // own plan shapes unchanged
      val prev = s.conf.getOption(graft.plans.RangeJoinRewrite.WidthConf)
      s.conf.set(graft.plans.RangeJoinRewrite.WidthConf, "256")
      try {
        val promo = (0 to 11)
          .map(i => (i.toLong, (9131 + i * 180).toLong, (9131 + i * 180 + 250).toLong))
          .toDF("promo_id", "lo", "hi")
        val out = t(s, d, "orders")
          .select(col("o_orderkey"),
            datediff(col("o_orderdate"), lit("1970-01-01")).cast("long").as("d"))
          .join(promo, col("d") >= col("lo") && col("d") <= col("hi"))
          .select(col("o_orderkey"), col("promo_id"))
          .orderBy(col("o_orderkey"), col("promo_id"))
        out.queryExecution.executedPlan // eager: plan under width=256
        out
      } finally prev match {
        case Some(v) => s.conf.set(graft.plans.RangeJoinRewrite.WidthConf, v)
        case None => s.conf.unset(graft.plans.RangeJoinRewrite.WidthConf)
      }
    },

    // ---- j12: the range-join rule's FLOATING path — the same naive
    //      BETWEEN join but over DOUBLE price bands, exercised through
    //      the floor(x/W) scaled-long bucketing (plus the catch-all
    //      routing for non-finite values, inert on this data). Band
    //      constants are exactly binary-representable so both engines
    //      compare identical doubles. ----
    sqlChecked("j12_range_auto_dbl",
      """WITH promo AS (SELECT i AS promo_id,
        |    500.0 + i * 14000.25 AS lo,
        |    500.0 + i * 14000.25 + 6999.5 AS hi
        |  FROM generate_series(0, 11) t(i))
        |SELECT o.o_orderkey, CAST(pr.promo_id AS BIGINT) AS promo_id
        |FROM orders o JOIN promo pr ON o.o_totalprice BETWEEN pr.lo AND pr.hi
        |ORDER BY o_orderkey, promo_id""".stripMargin) { (s, d) =>
      import s.implicits._
      graft.functions.GraftFunctions.install(s)
      val prev = s.conf.getOption(graft.plans.RangeJoinRewrite.WidthConf)
      s.conf.set(graft.plans.RangeJoinRewrite.WidthConf, "8192")
      try {
        val promo = (0 to 11)
          .map(i => (i.toLong, 500.0 + i * 14000.25, 500.0 + i * 14000.25 + 6999.5))
          .toDF("promo_id", "lo", "hi")
        val out = t(s, d, "orders")
          .select(col("o_orderkey"), col("o_totalprice").as("p"))
          .join(promo, col("p") >= col("lo") && col("p") <= col("hi"))
          .select(col("o_orderkey"), col("promo_id"))
          .orderBy(col("o_orderkey"), col("promo_id"))
        out.queryExecution.executedPlan // plan under width=8192
        out
      } finally prev match {
        case Some(v) => s.conf.set(graft.plans.RangeJoinRewrite.WidthConf, v)
        case None => s.conf.unset(graft.plans.RangeJoinRewrite.WidthConf)
      }
    },

    // ---- j13: the rule's LEFT-SEMI shape — "orders inside ANY promo
    //      window", the EXISTS form a user writes; j11's windows
    //      overlap (step 180 < span 250) so the semi join must dedup
    //      multi-window orders, proving the bucket fan-out cannot leak
    //      duplicate preserved-side rows. ----
    sqlChecked("j13_range_semi",
      """WITH promo AS (SELECT i AS promo_id,
        |    9131 + i * 180 AS lo, 9131 + i * 180 + 250 AS hi
        |  FROM generate_series(0, 11) t(i)),
        |pts AS (SELECT o_orderkey,
        |    date_diff('day', TIMESTAMP '1970-01-01', o_orderdate) AS d
        |  FROM orders)
        |SELECT p.o_orderkey FROM pts p
        |WHERE EXISTS (SELECT 1 FROM promo pr
        |  WHERE p.d >= pr.lo AND p.d <= pr.hi)
        |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      import s.implicits._
      graft.functions.GraftFunctions.install(s)
      val prev = s.conf.getOption(graft.plans.RangeJoinRewrite.WidthConf)
      s.conf.set(graft.plans.RangeJoinRewrite.WidthConf, "256")
      try {
        val promo = (0 to 11)
          .map(i => (i.toLong, (9131 + i * 180).toLong, (9131 + i * 180 + 250).toLong))
          .toDF("promo_id", "lo", "hi")
        val out = t(s, d, "orders")
          .select(col("o_orderkey"),
            datediff(col("o_orderdate"), lit("1970-01-01")).cast("long").as("d"))
          .join(promo, col("d") >= col("lo") && col("d") <= col("hi"), "left_semi")
          .select(col("o_orderkey"))
          .orderBy(col("o_orderkey"))
        out.queryExecution.executedPlan // plan under width=256
        out
      } finally prev match {
        case Some(v) => s.conf.set(graft.plans.RangeJoinRewrite.WidthConf, v)
        case None => s.conf.unset(graft.plans.RangeJoinRewrite.WidthConf)
      }
    },

    // ---- o11: interval-union coverage (sweep-line as a window):
    //      each event opens a 30–120 min activity interval; per user,
    //      merge overlaps and report distinct active seconds + merged
    //      session count. The sweep is the gaps-and-islands trick on a
    //      running exclusive MAX(end) — one per-user window pass, all
    //      integer seconds, no self-join of intervals. ----
    sqlChecked("o11_coverage",
      """WITH iv AS (SELECT user_id,
        |    CAST(FLOOR(epoch(ts)) AS BIGINT) AS s,
        |    CAST(FLOOR(epoch(ts)) AS BIGINT) + 1800 + (event_id % 4) * 1800 AS e,
        |    event_id
        |  FROM events),
        |sw AS (SELECT user_id, s, e,
        |    MAX(e) OVER (PARTITION BY user_id ORDER BY s, e, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS mx,
        |    event_id FROM iv),
        |br AS (SELECT user_id, s, e, event_id,
        |    CASE WHEN mx IS NULL OR s > mx THEN 1 ELSE 0 END AS brk
        |  FROM sw),
        |isl AS (SELECT user_id, s, e,
        |    SUM(brk) OVER (PARTITION BY user_id ORDER BY s, e, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g
        |  FROM br),
        |cov AS (SELECT user_id, g, MAX(e) - MIN(s) AS seconds
        |  FROM isl GROUP BY user_id, g)
        |SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_sessions,
        |  CAST(SUM(seconds) AS BIGINT) AS covered_seconds
        |FROM cov GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, d) =>
      val iv = Tables.events(s, d).select(col("user_id"),
        unix_timestamp(col("ts")).as("s"),
        (unix_timestamp(col("ts")) + 1800 +
          (col("event_id") % 4) * 1800).as("e"),
        col("event_id"))
      val order = Seq(col("s"), col("e"), col("event_id"))
      val wPrev = Window.partitionBy(col("user_id")).orderBy(order: _*)
        .rowsBetween(Window.unboundedPreceding, -1)
      val wRun = Window.partitionBy(col("user_id")).orderBy(order: _*)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      iv.withColumn("mx", max(col("e")).over(wPrev))
        .withColumn("brk",
          when(col("mx").isNull || col("s") > col("mx"), 1L).otherwise(0L))
        .withColumn("g", sum(col("brk")).over(wRun))
        .groupBy(col("user_id"), col("g"))
        .agg((max(col("e")) - min(col("s"))).as("seconds"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_sessions"),
          sum(col("seconds")).as("covered_seconds"))
        .orderBy(col("user_id"))
    },

    // ---- ev_ohlc: open/high/low/close resampling of the event value
    //      series per (user, hour) — the classic time-series
    //      downsampler. Open/close are struct-min/max selections
    //      ordered by (µs, event_id), so ties are total-ordered and no
    //      row_number window over the stream is needed; one hash agg. ----
    sqlChecked("ev_ohlc",
      """WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_id, value,
        |    CAST(FLOOR(epoch(ts)) AS BIGINT) // 3600 AS hr FROM events),
        |r AS (SELECT user_id, hr, value,
        |    ROW_NUMBER() OVER (PARTITION BY user_id, hr
        |      ORDER BY us, event_id) AS ra,
        |    ROW_NUMBER() OVER (PARTITION BY user_id, hr
        |      ORDER BY us DESC, event_id DESC) AS rd
        |  FROM e)
        |SELECT user_id, hr,
        |  MAX(CASE WHEN ra = 1 THEN value END) AS open,
        |  MAX(value) AS high, MIN(value) AS low,
        |  MAX(CASE WHEN rd = 1 THEN value END) AS close,
        |  CAST(COUNT(*) AS BIGINT) AS n
        |FROM r GROUP BY user_id, hr ORDER BY user_id, hr""".stripMargin) { (s, d) =>
      val e = Tables.events(s, d).select(col("user_id"),
        unix_micros(col("ts")).as("us"), col("event_id"), col("value"),
        expr("unix_timestamp(ts) div 3600").as("hr"))
      e.groupBy(col("user_id"), col("hr"))
        .agg(
          min(struct(col("us"), col("event_id"), col("value")))
            .getField("value").as("open"),
          max(col("value")).as("high"), min(col("value")).as("low"),
          max(struct(col("us"), col("event_id"), col("value")))
            .getField("value").as("close"),
          count(lit(1)).as("n"))
        .orderBy(col("user_id"), col("hr"))
    },

    // ---- ev_twap: time-weighted average value per (user, hour) —
    //      each observation holds until the next one (or the hour
    //      end). Dwell times are integer milliseconds and values are
    //      quantized to 1e-4, so the weighted sums are exact BIGINTs
    //      in any aggregation order; the one per-user-hour LEAD window
    //      partitions on the (user, hour) key. ----
    sqlChecked("ev_twap",
      """WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_id,
        |    CAST(FLOOR(value * 10000 + 0.5) AS BIGINT) AS vq,
        |    CAST(FLOOR(epoch(ts)) AS BIGINT) // 3600 AS hr FROM events),
        |seg AS (SELECT user_id, hr, vq,
        |    (COALESCE(LEAD(us) OVER (PARTITION BY user_id, hr
        |        ORDER BY us, event_id), (hr + 1) * 3600000000) - us) // 1000
        |      AS dms
        |  FROM e),
        |a AS (SELECT user_id, hr,
        |    CAST(SUM(vq * dms) AS BIGINT) AS num,
        |    CAST(SUM(dms) AS BIGINT) AS den,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM seg GROUP BY user_id, hr)
        |SELECT user_id, hr, n,
        |  ROUND(CASE WHEN den > 0
        |    THEN CAST(num AS DOUBLE) / den / 10000.0 ELSE 0.0 END, 6) AS twap
        |FROM a ORDER BY user_id, hr""".stripMargin) { (s, d) =>
      val e = Tables.events(s, d).select(col("user_id"),
        unix_micros(col("ts")).as("us"), col("event_id"),
        floor(col("value") * 10000 + 0.5).cast("long").as("vq"),
        expr("unix_timestamp(ts) div 3600").as("hr"))
      val w = Window.partitionBy(col("user_id"), col("hr"))
        .orderBy(col("us"), col("event_id"))
      val seg = e.withColumn("dms",
        ((coalesce(lead(col("us"), 1).over(w),
          (col("hr") + 1) * 3600000000L) - col("us")) / 1000L).cast("long"))
      seg.groupBy(col("user_id"), col("hr"))
        .agg(sum(col("vq") * col("dms")).as("num"),
          sum(col("dms")).as("den"), count(lit(1)).as("n"))
        .select(col("user_id"), col("hr"), col("n"),
          round(when(col("den") > 0,
            col("num").cast("double") / col("den") / 10000.0)
            .otherwise(0.0), 6).as("twap"))
        .orderBy(col("user_id"), col("hr"))
    },

    // ---- s16: the DSv2 EVENT source's batch path, bit-matched: the
    //      same deterministic generator that serves the micro-batch
    //      stream (sources/EventStreamSource; stream==batch proven in
    //      StreamingSourceSpec) read as a table and replayed by the
    //      DuckDB RNG twin — source tier fully closed: batch read,
    //      streaming read, and a second engine all agree row-for-row. ----
    sqlChecked("s16_event_source", {
      val u1 = Rng.uniformSql("id", 12L)
      val u2 = Rng.uniformSql("id", 24L)
      val u3 = Rng.uniformSql("id", 38L)
      val u4 = Rng.uniformSql("id", 54L)
      s"""WITH ids AS (SELECT CAST(range AS BIGINT) AS id FROM range(5000)),
         |u AS (SELECT id, $u1 AS u1, $u2 AS u2, $u3 AS u3, $u4 AS u4 FROM ids)
         |SELECT id AS event_id,
         |  CAST(1704067200000000 + id * 977000
         |    + FLOOR(u1 * 977000) AS BIGINT) AS ts_us,
         |  CAST(FLOOR(u4 * 100) AS BIGINT) AS user_id,
         |  CASE CAST(FLOOR(u2 * 5) AS BIGINT)
         |    WHEN 0 THEN 'view' WHEN 1 THEN 'click' WHEN 2 THEN 'purchase'
         |    WHEN 3 THEN 'share' ELSE 'like' END AS event_type,
         |  FLOOR(u3 * 50000 + 0.5) / 100.0 AS value
         |FROM u ORDER BY event_id""".stripMargin
    }) { (s, d) =>
      s.read.format("graft.sources.EventStreamSource")
        .option("maxRows", 5000).option("partitions", 8)
        .option("seed", 1).option("users", 100).load()
        .select(col("event_id"), unix_micros(col("ts")).as("ts_us"),
          col("user_id"), col("event_type"), col("value"))
        .orderBy(col("event_id"))
    }
  )
}
