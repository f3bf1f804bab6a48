package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Round-5 tranche four: sampling and diagnostics operators — systematic
  * PPS sampling, the join-skew profiler that decides salting, referential-
  * integrity audits, time-weighted averages, and global quantile
  * normalization. Integer-exact throughout; every cumulative stage is the
  * q96 two-phase shape (shard-local cumsum + dimension-sized offsets),
  * never a corpus-wide single-partition window.
  */
object DiagnosticsQueries {

  private def docs(s: org.apache.spark.sql.SparkSession, d: String) = Tables.load(s, d, "documents")
  private def events(s: org.apache.spark.sql.SparkSession, d: String) = Tables.load(s, d, "events")

  /** `rows` (`doc_id`, weight `w`) laid on their weight line: `cum` is the
    * running sum of `w` in `doc_id` order through each doc. Computed
    * two-phase, so no task sees the whole corpus: 1,000-doc shards total
    * their weights, a window over those totals gives each shard its
    * offset, and a running sum within the shard adds the rest.
    */
  private[queries] def weightLine(rows: DataFrame): DataFrame = {
    val base = rows.withColumn("shard", expr("doc_id div 1000"))
    val offs = base.groupBy(col("shard")).agg(sum(col("w")).as("sw"))
      .select(col("shard"), coalesce(sum(col("sw")).over(
        Window.orderBy(col("shard")).rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)).as("off"))
    base.join(broadcast(offs), "shard")
      .withColumn("cum", col("off") + sum(col("w")).over(
        Window.partitionBy(col("shard")).orderBy(col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, 0)))
  }

  val defs: Seq[QueryDef] = Seq(

    // ── Systematic probability-proportional-to-size sampling: 20 docs
    //    drawn with inclusion probability ∝ n_chars, by the classic
    //    systematic method — lay documents on the cumulative weight line,
    //    fire 20 equally-spaced selection points (offset = stride/2), take
    //    the doc whose interval contains each point. Fully deterministic,
    //    exact budget, zero floating point. The cumulative line is
    //    distributed two-phase: 1000-doc shards cumsum locally, shard
    //    offsets come from a dimension-sized table. n_hits > 1 happens
    //    exactly when one doc outweighs a stride — reported, not hidden.
    QueryDef(
      "q146_pps_sample",
      (s, d) => {
        val k = 20L
        val base = docs(s, d).select(col("doc_id"), col("n_chars").as("w"))
        val tot = base.agg(sum(col("w")).as("wt"))
        weightLine(base)
          .withColumn("cum_start", col("cum") - col("w"))
          .crossJoin(broadcast(tot))
          // selection points p_i at (2i+1)·wt/(2k) on the weight line;
          // F(x) = #points ≤ x = (2k·x + wt − 1) div (2·wt) — shifted by
          // one denominator so the numerator never goes negative (Spark's
          // `div` truncates toward zero while DuckDB's `//` floors; they
          // only agree on non-negative operands). hits = F(end) − F(start).
          .withColumn("hits",
            expr(s"((2 * $k * cum + wt - 1) div (2 * wt)) " +
              s"- ((2 * $k * cum_start + wt - 1) div (2 * wt))"))
          .where(col("hits") > 0)
          .select(col("doc_id"), col("w").as("weight"), col("hits"))
      },
      Some("""WITH b AS (SELECT doc_id, n_chars w FROM documents),
        t AS (SELECT sum(w)::BIGINT wt FROM b),
        c AS (SELECT doc_id, w,
                sum(w) OVER (ORDER BY doc_id)::BIGINT cum_end
              FROM b)
        SELECT doc_id, w AS weight,
          CAST(((2*20*cum_end + wt - 1) // (2*wt))
               - ((2*20*(cum_end - w) + wt - 1) // (2*wt)) AS BIGINT) AS hits
        FROM c CROSS JOIN t
        WHERE ((2*20*cum_end + wt - 1) // (2*wt))
              - ((2*20*(cum_end - w) + wt - 1) // (2*wt)) > 0""")
    ),

    // ── Join-skew profiler: the pre-join diagnostic that decides whether
    //    a key needs salting. For the supplier key in lineitem: per-key
    //    fan-outs, bucketed by magnitude (bucket = length of the binary
    //    representation — an integer log2 that never calls log), with the
    //    self-join blow-up term Σ n² per bucket in DECIMAL(38,0) — the
    //    quantity that decides whether a similarity self-join on this key
    //    explodes. One hash aggregate to the key dictionary, one to the
    //    bucket panel.
    QueryDef(
      "q147_join_skew",
      (s, d) => {
        val dec = DecimalType(38, 0)
        val fans = Tables.load(s, d, "lineitem")
          .groupBy(col("l_suppkey")).agg(count(lit(1)).as("n"))
        fans.select(length(bin(col("n"))).cast(IntegerType).as("bucket"), col("n"))
          .groupBy(col("bucket"))
          .agg(count(lit(1)).as("n_keys"), sum(col("n")).as("n_rows"),
            sum(col("n").cast(dec) * col("n").cast(dec)).cast(LongType)
              .as("selfjoin_rows"))
          .orderBy(col("bucket"))
      },
      Some("""WITH f AS (SELECT l_suppkey, count(*)::BIGINT n FROM lineitem GROUP BY 1)
        SELECT CAST(len(bin(n)) AS INT) bucket, count(*)::BIGINT n_keys,
          sum(n)::BIGINT n_rows, CAST(sum(n*n) AS BIGINT) selfjoin_rows
        FROM f GROUP BY 1 ORDER BY 1""")
    ),

    // ── Referential-integrity audit across the schema's foreign keys:
    //    orphan children per FK edge (left-anti semantics via a
    //    null-extended left join count), child volume, and orphan ppm.
    //    Each edge is one equi-join against the DISTINCT parent keys —
    //    parent dictionaries broadcast when small, and the child tables
    //    are scanned once each, narrow. The pre-ingest gate that catches
    //    a truncated dimension load before it silently drops fact rows
    //    in inner joins downstream.
    QueryDef(
      "q148_ref_integrity",
      (s, d) => {
        def t(n: String) = Tables.load(s, d, n)
        def edge(tag: String, child: org.apache.spark.sql.DataFrame, ck: String,
                 parent: org.apache.spark.sql.DataFrame, pk: String) = {
          val p = parent.select(col(pk)).distinct()
            .withColumn("present", lit(1))
          child.select(col(ck))
            .join(broadcast(p), child(ck) === p(pk), "left_outer")
            .agg(count(lit(1)).as("n_child"),
              sum(when(col("present").isNull, 1L).otherwise(0L)).as("n_orphans"))
            .select(lit(tag).as("fk"), col("n_child"), col("n_orphans"),
              expr("(n_orphans * 1000000) div n_child").as("orphan_ppm"))
        }
        // all three lineitem FKs audited in ONE scan: the union-of-edges
        // form scanned the child fact table once per FK (3× the dominant
        // I/O; r18, guide §2.4). Each parent joins on a DISTINCT key, so
        // the chained left joins cannot fan out and the per-FK counts are
        // exactly the per-edge ones.
        def pset(parent: org.apache.spark.sql.DataFrame, pk: String, tag: String) =
          broadcast(parent.select(col(pk)).distinct().withColumn(s"pr_$tag", lit(1)))
        val li = t("lineitem").select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"))
        val liEdges = li
          .join(pset(t("orders"), "o_orderkey", "ok"), col("l_orderkey") === col("o_orderkey"), "left_outer")
          .join(pset(t("part"), "p_partkey", "pk"), col("l_partkey") === col("p_partkey"), "left_outer")
          .join(pset(t("supplier"), "s_suppkey", "sk"), col("l_suppkey") === col("s_suppkey"), "left_outer")
          .agg(count(lit(1)).as("nc"),
            sum(when(col("pr_ok").isNull, 1L).otherwise(0L)).as("m_ok"),
            sum(when(col("pr_pk").isNull, 1L).otherwise(0L)).as("m_pk"),
            sum(when(col("pr_sk").isNull, 1L).otherwise(0L)).as("m_sk"))
          .select(explode(array(
            struct(lit("lineitem.orderkey").as("fk"), col("nc"), col("m_ok").as("m")),
            struct(lit("lineitem.partkey").as("fk"), col("nc"), col("m_pk").as("m")),
            struct(lit("lineitem.suppkey").as("fk"), col("nc"), col("m_sk").as("m")))).as("e"))
          .select(col("e.fk").as("fk"), col("e.nc").as("n_child"), col("e.m").as("n_orphans"),
            expr("(e.m * 1000000) div e.nc").as("orphan_ppm"))
        liEdges
          .unionAll(edge("orders.custkey", t("orders"), "o_custkey", t("customer"), "c_custkey"))
      },
      Some("""SELECT 'lineitem.orderkey' fk, count(*)::BIGINT n_child,
          sum(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END)::BIGINT n_orphans,
          CAST(sum(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END) * 1000000
               // count(*) AS BIGINT) orphan_ppm
        FROM lineitem l LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
          ON l.l_orderkey = o.o_orderkey
        UNION ALL
        SELECT 'lineitem.partkey', count(*)::BIGINT,
          sum(CASE WHEN p.p_partkey IS NULL THEN 1 ELSE 0 END)::BIGINT,
          CAST(sum(CASE WHEN p.p_partkey IS NULL THEN 1 ELSE 0 END) * 1000000
               // count(*) AS BIGINT)
        FROM lineitem l LEFT JOIN (SELECT DISTINCT p_partkey FROM part) p
          ON l.l_partkey = p.p_partkey
        UNION ALL
        SELECT 'lineitem.suppkey', count(*)::BIGINT,
          sum(CASE WHEN s.s_suppkey IS NULL THEN 1 ELSE 0 END)::BIGINT,
          CAST(sum(CASE WHEN s.s_suppkey IS NULL THEN 1 ELSE 0 END) * 1000000
               // count(*) AS BIGINT)
        FROM lineitem l LEFT JOIN (SELECT DISTINCT s_suppkey FROM supplier) s
          ON l.l_suppkey = s.s_suppkey
        UNION ALL
        SELECT 'orders.custkey', count(*)::BIGINT,
          sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END)::BIGINT,
          CAST(sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) * 1000000
               // count(*) AS BIGINT)
        FROM orders o LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
          ON o.o_custkey = c.c_custkey""")
    ),

    // ── Time-weighted average value per user: Σ Δt·v / Σ Δt over the
    //    event sequence — the correct "average position" when samples are
    //    unevenly spaced (a plain mean over-weights bursts). Δt in exact
    //    microseconds via lead(); products Δt·cents run in DECIMAL(38,0)
    //    (µs · cents overflows 2^63 at month spans × large values).
    //    Window partitions by user — millions of users at 100 TB, perfect
    //    parallelism. Users with one event have no interval and drop.
    QueryDef(
      "q149_twap",
      (s, d) => {
        val dec = DecimalType(38, 0)
        val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
        events(s, d)
          .where(col("user_id") < 50)
          .select(col("user_id"), col("event_id"),
            unix_micros(col("ts")).as("us"),
            round(col("value") * 100).cast(LongType).as("c"))
          .withColumn("next_us", lead(col("us"), 1).over(w))
          .where(col("next_us").isNotNull)
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_intervals"),
            sum((col("next_us") - col("us")).cast(dec) * col("c").cast(dec)).as("num"),
            sum((col("next_us") - col("us")).cast(dec)).as("den"))
          .select(col("user_id"), col("n_intervals"),
            expr("CAST(num div den AS BIGINT)").as("twap_cents"))
      },
      Some("""WITH e AS (SELECT user_id, event_id,
                 epoch_us(CAST(ts AS TIMESTAMP)) us,
                 CAST(round(value*100) AS BIGINT) c
               FROM events WHERE user_id < 50),
        l AS (SELECT user_id, us, c,
                lead(us) OVER (PARTITION BY user_id ORDER BY us, event_id) next_us
              FROM e)
        SELECT user_id, count(*)::BIGINT n_intervals,
          CAST(sum((next_us - us)::HUGEINT * c::HUGEINT)
               // sum((next_us - us)::HUGEINT) AS BIGINT) twap_cents
        FROM l WHERE next_us IS NOT NULL GROUP BY 1""")
    ),

    // ── Global quantile normalization: map every event value to its
    //    corpus-wide percentile rank in ppm — the feature-normalization
    //    step that makes heterogeneous sources comparable. Rank comes
    //    from the (cents → count) histogram (ONE hash aggregate) with a
    //    cumulative over the dimension-sized value dictionary, joined
    //    back by value — the corpus is never sorted. pct of value v =
    //    (#rows < v)·1e6 div (N−1): 0 for the min, 1e6 for the max.
    //    Output panel: users < 10.
    QueryDef(
      "q150_quantile_norm",
      (s, d) => {
        val hist = events(s, d)
          .select(round(col("value") * 100).cast(LongType).as("c"))
          .groupBy(col("c")).agg(count(lit(1)).as("n"))
        val wc = Window.orderBy(col("c")).rowsBetween(Window.unboundedPreceding, -1)
        val ranked = hist
          .withColumn("below", coalesce(sum(col("n")).over(wc), lit(0L)))
        val tot = hist.agg(sum(col("n")).as("nt"))
        events(s, d)
          .where(col("user_id") < 10)
          .select(col("event_id"), col("user_id"),
            round(col("value") * 100).cast(LongType).as("c"))
          .join(ranked.select(col("c"), col("below")), "c")
          .crossJoin(broadcast(tot))
          .select(col("event_id"), col("user_id"), col("c").as("cents"),
            expr("(below * 1000000) div (nt - 1)").as("pct_ppm"))
      },
      Some("""WITH h AS (SELECT CAST(round(value*100) AS BIGINT) c, count(*)::BIGINT n
               FROM events GROUP BY 1),
        r AS (SELECT c, coalesce(sum(n) OVER (ORDER BY c
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT below
              FROM h),
        t AS (SELECT sum(n)::BIGINT nt FROM h)
        SELECT e.event_id, e.user_id, CAST(round(e.value*100) AS BIGINT) cents,
          CAST(r.below * 1000000 // (t.nt - 1) AS BIGINT) pct_ppm
        FROM events e JOIN r ON r.c = CAST(round(e.value*100) AS BIGINT)
        CROSS JOIN t WHERE e.user_id < 10""")
    ),

    // ── One-pass correlation matrix: pairwise Pearson (q114's integer
    //    contract — sign + r² ppm, exact DECIMAL moments, no cross-engine
    //    sqrt) for all 21 pairs of the 7 lineitem numerics, from ONE
    //    aggregate computing the full moment matrix (Σxᵢ, Σxᵢ², Σxᵢxⱼ) —
    //    the feature-redundancy screen before model training, done the
    //    way BLAS does a rank-k update: one scan, no per-pair passes.
    //    Values collapse to integer cents/centi-units first, so every
    //    moment is exact.
    QueryDef(
      "q159_corr_matrix",
      (s, d) => {
        val cols7 = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
          "l_extendedprice", "l_discount", "l_tax")
        val dec = DecimalType(38, 0)
        // r18 OPT: the single-row-group lineitem scan is ONE task, so the
        // 35-sum decimal moment aggregate ran serially (cpu/wall 1.3).
        // Project to integer cents FIRST (8-byte longs over the exchange,
        // §2.3), fan out to all cores (Tables.fanOut: no-op at scale),
        // cast to exact DECIMAL after — identical integers, 32-way agg.
        val li = Tables.fanOut(Tables.load(s, d, "lineitem").select(
            cols7.map(c => round(col(c) * 100).cast(LongType).as(c)): _*))
          .select(cols7.map(c => col(c).cast(dec).as(c)): _*)
        val pairs = for {
          i <- cols7.indices; j <- cols7.indices if i < j
        } yield (cols7(i), cols7(j))
        val agg = li.agg(
          count(lit(1)).cast(dec).as("n"),
          (cols7.flatMap(c => Seq(sum(col(c)).as(s"s_$c"),
            sum(col(c) * col(c)).as(s"ss_$c"))) ++
            pairs.map { case (a, b) => sum(col(a) * col(b)).as(s"sp_${a}__$b") }): _*)
        val stackExpr = pairs.map { case (a, b) =>
          s"'$a', '$b', s_$a, ss_$a, s_$b, ss_$b, sp_${a}__$b"
        }.mkString(s"stack(${pairs.length}, ", ", ", ")")
        agg.select(col("n"),
            expr(s"$stackExpr as (col_a, col_b, sa, ssa, sb, ssb, sab)"))
          .select(col("col_a"), col("col_b"),
            (col("n") * col("sab") - col("sa") * col("sb")).as("num"),
            (col("n") * col("ssa") - col("sa") * col("sa")).as("den_a"),
            (col("n") * col("ssb") - col("sb") * col("sb")).as("den_b"))
          .select(col("col_a"), col("col_b"),
            signum(col("num")).cast(IntegerType).as("r_sign"),
            // moments are exact DECIMAL; num² · 1e6 would blow past 38
            // digits (prices × keys × 600k rows), and r² is scale-free —
            // so the FINAL ratio is one element-wise double expression
            // both engines evaluate identically from the same exact
            // integers (the permitted determinism class, q66's template)
            when(col("den_a") === 0 || col("den_b") === 0, lit(null))
              .otherwise(expr(
                """((CAST(num AS DOUBLE) * CAST(num AS DOUBLE)) * 1000000.0)
                   / (CAST(den_a AS DOUBLE) * CAST(den_b AS DOUBLE))"""))
              .as("r2_ppm"))
      },
      Some {
        val cols7 = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
          "l_extendedprice", "l_discount", "l_tax")
        val pairs = for {
          i <- cols7.indices; j <- cols7.indices if i < j
        } yield (cols7(i), cols7(j))
        val arms = pairs.map { case (a, b) =>
          val num = s"(n*sp_${a}__$b - s_$a*s_$b)"
          val da = s"(n*ss_$a - s_$a*s_$a)"
          val db = s"(n*ss_$b - s_$b*s_$b)"
          s"""SELECT '$a' col_a, '$b' col_b,
            CAST(sign($num) AS INT) r_sign,
            CASE WHEN $da = 0 OR $db = 0 THEN NULL
              ELSE ((CAST($num AS DOUBLE) * CAST($num AS DOUBLE)) * 1000000.0)
                   / (CAST($da AS DOUBLE) * CAST($db AS DOUBLE)) END r2_ppm
          FROM m"""
        }.mkString("\nUNION ALL\n")
        val moments = cols7.flatMap(c => Seq(
          s"sum(q_$c)::HUGEINT s_$c", s"sum(q_$c*q_$c)::HUGEINT ss_$c")) ++
          pairs.map { case (a, b) => s"sum(q_$a*q_$b)::HUGEINT sp_${a}__$b" }
        s"""WITH q AS (SELECT ${cols7.map(c =>
            s"CAST(round($c*100) AS HUGEINT) q_$c").mkString(", ")} FROM lineitem),
        m AS (SELECT count(*)::HUGEINT n, ${moments.mkString(", ")} FROM q)
        $arms"""
      }
    )
  )
}
