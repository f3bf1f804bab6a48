package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scaling probe for the bounded-range join family: native merge exec
  * (plans/RangeMergeJoin) vs the cell-replication composition
  * (operators/RangeJoin.within) vs the naive range-predicate join, on the
  * q169 workload shape, in BOTH scaling directions:
  *
  *   - `keys` clones: user ids shift per clone — key-space grows N×,
  *     per-key density constant. Every correct algorithm should be ~linear.
  *   - `dense` clones: event ids shift, user ids KEPT — per-key density
  *     grows N×, so the per-pair term grows ~N² (the output itself does).
  *     This is the adversarial direction: the naive join's per-key loop is
  *     quadratic in WORK even when output is small relative to the
  *     candidate space, the cell form replicates 3× and re-verifies every
  *     candidate, the merge exec's non-output work stays linear.
  *
  * Each timing materializes count() (no result collection). Window ±10 min.
  */
object RangeJoinScaleProbe {
  def main(args: Array[String]): Unit = {
    val mults = if (args.nonEmpty) args.map(_.toInt).toSeq else Seq(1, 4, 10)
    val spark = graft.GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")

    val base = graft.queries.Tables.load(spark, "/root/testdata/sf0.1", "events")
      .select(col("event_id"), col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))

    def sides(e: DataFrame): (DataFrame, DataFrame) = (
      e.where(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("p_event"), col("us").as("p_us")),
      e.where(col("event_type").isin("view", "click"))
        .select(col("user_id").as("uid"), col("event_id").as("r_event"), col("us").as("r_us")))

    def time(f: => Long): (Double, Long) = {
      val t0 = System.nanoTime(); val n = f; ((System.nanoTime() - t0) / 1e9, n)
    }
    val w = 600000000L

    for (direction <- Seq("keys", "dense"); m <- mults) {
      val e = (0 until m).map { i =>
        if (direction == "keys")
          base.select(col("event_id"), (col("user_id") + lit(i * 1000000L)).as("user_id"),
            col("event_type"), col("us"))
        else
          base.select((col("event_id") + lit(i * 1000000000L)).as("event_id"), col("user_id"),
            col("event_type"), col("us"))
      }.reduce(_ union _).cache()
      e.count()
      val (l, r) = sides(e)

      val (tM, nM) = time {
        graft.plans.RangeMergeJoin(l, r, "user_id", "uid", "p_us", "r_us", w,
          Seq("r_event" -> "r_event")).count()
      }
      val (tC, nC) = time {
        graft.operators.RangeJoin.within(
          l, r.withColumnRenamed("uid", "user_id"), "user_id", "p_us", "r_us", w).count()
      }
      val (tN, nN) = time {
        l.join(r, l("user_id") === r("uid") && abs(l("p_us") - r("r_us")) <= w).count()
      }
      require(nM == nC && nM == nN, s"pair counts diverge: $nM $nC $nN")
      println(f"[rangeprobe] $direction%-5s x$m%-2d pairs=$nM%9d  merge=$tM%6.2fs  cells=$tC%6.2fs  naive=$tN%6.2fs")
      e.unpersist()
    }
    spark.stop()
  }
}
