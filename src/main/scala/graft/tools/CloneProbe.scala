package graft.tools

import java.nio.file.Files

import org.apache.spark.sql.functions._

/** Generic scaling probe: clone the sf0.1 tables N× in a chosen direction
  * and time any DECLARED queries against the cloned corpus — the evidence
  * generator for "would this hold at 10×" questions on new operators.
  *
  * Directions:
  *   - `keys`:  ids shift per clone — key-space grows, per-key density
  *     flat. The "corpus grew 10×" direction: events gain users, documents
  *     and embeddings gain ids, lineitem/orders gain order keys AND
  *     customer keys (fact + entity growth together).
  *   - `dense`: event ids shift but user ids are kept — per-key history
  *     grows N×, the adversarial direction for per-user windows/folds.
  *     Non-event tables are copied unscaled.
  *   - `ratio`: `keys` cloning, but each query is ALSO timed on the
  *     unscaled sf0.1 baseline (min of 2 runs each) and the t(N×)/t(1×)
  *     ratio is printed — the per-entry scale-curve evidence (r6 verdict
  *     Next #7). On a fixed core count, linear work ⇒ ratio ≈ N; an
  *     entry is flagged when ratio > 3N (super-linear blow-up).
  *
  * Usage: runMain graft.tools.CloneProbe <keys|dense|ratio> <mult> q140,q157,...
  * (query names may be unique prefixes, e.g. "q172").
  */
object CloneProbe {
  def main(args: Array[String]): Unit = {
    val direction = args.headOption.getOrElse("dense")
    val mult = args.lift(1).map(_.toInt).getOrElse(10)
    val wanted = args.lift(2).map(_.split(",").toSeq).getOrElse(Seq("q171", "q172", "q173", "q175", "q176"))
    val shiftKeys = direction != "dense"

    val spark = graft.GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")

    val base = "/root/testdata/sf0.1"
    val dir = Files.createTempDirectory("graft-cloneprobe").toString

    def clones(df: org.apache.spark.sql.DataFrame)(shift: (org.apache.spark.sql.DataFrame, Int) => org.apache.spark.sql.DataFrame) =
      (0 until mult).map(i => shift(df, i)).reduce(_ union _)

    val ev = graft.queries.Tables.load(spark, base, "events")
    clones(ev) { (d, i) =>
      d.select((col("event_id") + lit(i.toLong * 1000000000L)).as("event_id"), col("ts"),
        (if (shiftKeys) col("user_id") + lit(i.toLong * 1000000L) else col("user_id")).as("user_id"),
        col("event_type"), col("value"), col("props"))
    }.write.mode("overwrite").parquet(s"$dir/events.parquet")

    clones(spark.read.parquet(s"$base/documents.parquet")) { (d, i) =>
      d.withColumn("doc_id", col("doc_id") + lit(i.toLong * 1000000L))
    }.write.mode("overwrite").parquet(s"$dir/documents.parquet")

    if (shiftKeys) {
      clones(spark.read.parquet(s"$base/embeddings.parquet")) { (d, i) =>
        d.withColumn("vec_id", col("vec_id") + lit(i.toLong * 1000000L))
      }.write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      // facts grow together: order keys shift in lockstep so the
      // lineitem→orders FK stays intact across clones; customer keys shift
      // too (entity growth — q68's <500 cap then bounds its demo tier)
      clones(spark.read.parquet(s"$base/lineitem.parquet")) { (d, i) =>
        d.withColumn("l_orderkey", col("l_orderkey") + lit(i.toLong * 1000000000L))
      }.write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
      clones(spark.read.parquet(s"$base/orders.parquet")) { (d, i) =>
        d.withColumn("o_orderkey", col("o_orderkey") + lit(i.toLong * 1000000000L))
          .withColumn("o_custkey", col("o_custkey") + lit(i.toLong * 1000000L))
      }.write.mode("overwrite").parquet(s"$dir/orders.parquet")
    } else {
      for (t <- Seq("embeddings", "lineitem", "orders"))
        spark.read.parquet(s"$base/$t.parquet")
          .write.mode("overwrite").parquet(s"$dir/$t.parquet")
    }
    for (t <- Seq("region", "nation", "customer", "supplier", "part"))
      spark.read.parquet(s"$base/$t.parquet")
        .write.mode("overwrite").parquet(s"$dir/$t.parquet")

    val defs = graft.SparkEntry.allDefs.filter(q => wanted.exists(q.name.startsWith))
    println(s"[cloneprobe] $direction x$mult events=" +
      spark.read.parquet(s"$dir/events.parquet").count())

    def timeIt(q: graft.queries.QueryDef, d: String): (Double, Long) = {
      var best = Double.MaxValue; var n = 0L
      for (_ <- 0 until 2) {
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        n = q.spark(spark, d).count()
        best = math.min(best, (System.nanoTime() - t0) / 1e9)
      }
      (best, n)
    }

    for (q <- defs) {
      if (direction == "ratio") {
        val (t1, n1) = timeIt(q, base)
        val (tN, nN) = timeIt(q, dir)
        val flag = if (tN / t1 > 3.0 * mult) "  <-- SUPER-LINEAR" else ""
        println(f"[cloneprobe] ${q.name}%-28s base=$t1%7.2f s (rows=$n1%9d)  x$mult=$tN%7.2f s (rows=$nN%9d)  ratio=${tN / t1}%6.2f$flag")
      } else {
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        val n = q.spark(spark, dir).count()
        val t = (System.nanoTime() - t0) / 1e9
        println(f"[cloneprobe] ${q.name}%-28s $t%7.2f s  rows=$n%9d")
      }
    }
    spark.stop()
  }
}
