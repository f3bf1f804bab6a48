package graft.tools
import org.apache.spark.sql.functions._
object RecallProbe {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")
    import graft.operators.Similarity
    for (sf <- Seq("0.001", "0.01")) {
      val emb = spark.read.parquet(s"/root/testdata/sf$sf/embeddings.parquet")
      val corpus = Similarity.prepare(emb, "vec_id", "embedding")
      val q = corpus.where(col("vid") < 8)
      val exact = Similarity.bruteForceTopK(corpus, q, 5).select("query_id","neighbor_id")
      val pq = Similarity.pqTopK(corpus, corpus.where(col("vid") < 16), q, 5, 64).select("query_id","neighbor_id")
      val lsh = Similarity.lshTopK(corpus, q, 5, 64).select("query_id","neighbor_id")
      val ivf = Similarity.ivfTopK(corpus, corpus.where(col("vid") < 16), q, 5, 2).select("query_id","neighbor_id")
      val nExact = exact.count()
      println(s"[recall] sf$sf pq=${pq.intersect(exact).count()}/$nExact lsh=${lsh.intersect(exact).count()}/$nExact ivf=${ivf.intersect(exact).count()}/$nExact")
    }
    spark.stop()
  }
}
