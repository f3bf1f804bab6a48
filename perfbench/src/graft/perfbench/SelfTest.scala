package graft.perfbench

import java.nio.file.{Files, Path, Paths}

/** Self-tests of the benchmark's own pieces; run by `perfbench/selftest.py`.
  *
  *   - `SelfTest digest <workload> <seed>` prints the SHA-256 of every
  *     document the generator renders for the workload, so two processes
  *     can be compared: the same seed must give the same bytes.
  *   - `SelfTest oracle <dir>` checks the generator and the oracle at tiny
  *     scale: seeds are reproducible and change the data, not the shape;
  *     every workload's operations, run against the engine and the
  *     double in this JVM, pass their checks; and a tampered store fails
  *     them.
  */
object SelfTest {

  def main(args: Array[String]): Unit = args.toList match {
    case List("digest", workload, seed) =>
      println(Gen.digest(Gen.corpus(workload, seed.toLong)))
    case List("oracle", dir) =>
      oracle(Paths.get(dir))
      println("selftest oracle: ok")
    case _ =>
      System.err.println("usage: SelfTest digest <workload> <seed> | oracle <dir>")
      sys.exit(2)
  }

  private def check(cond: Boolean, what: String): Unit =
    if (!cond) throw new AssertionError(s"selftest: $what")

  private val tiny = Map(
    "backfill" -> Gen.Backfill.copy(tokens = 3, newerPerToken = 4),
    "signal_reads" -> Gen.Backfill.copy(tokens = 3, newerPerToken = 4),
    "resume" -> Gen.Resume.copy(tokens = 3, newerPerToken = 3, olderPerToken = 2))

  private def oracle(dir: Path): Unit = {
    for ((w, sh) <- tiny) {
      val a = Gen.corpus(sh, 7L)
      check(Gen.digest(a) == Gen.digest(Gen.corpus(sh, 7L)), s"$w: seed 7 is not reproducible")
      val b = Gen.corpus(sh, 8L)
      check(Gen.digest(a) != Gen.digest(b), s"$w: seeds 7 and 8 give the same documents")
      check(a.docs.size == b.docs.size && a.tokens.size == b.tokens.size,
        s"$w: the seed changed the workload's shape")
      check(a.docs.map(_.id).distinct.size == a.docs.size, s"$w: document ids repeat")
    }

    val spark = EngineMain.session(dir)
    try {
      for (w <- Seq("backfill", "resume", "signal_reads")) {
        val corpus = Gen.corpus(tiny(w), 7L)
        val runDir = Files.createDirectories(dir.resolve(w))
        if (w == "resume") Bench.writeSnapshot(spark, corpus, runDir.resolve("snapshot"))
        val server = StubMain.serve(corpus)
        try {
          val ctl = new StubCtl(s"http://127.0.0.1:${server.getAddress.getPort}")
          val bench = new Bench(spark, w, 7L, corpus, runDir, ctl, new Tracer(spark, false))
          val out = new com.fasterxml.jackson.databind.ObjectMapper().createObjectNode()
          bench.run(0.0, out)
          val errors = Seq.newBuilder[String]
          out.get("ops").forEach(o => if (o.has("error")) errors += o.get("error").asText())
          check(errors.result().isEmpty, s"$w: ${errors.result().mkString("; ")}")
          check(out.get("ops").size() >= 5, s"$w: fewer than 5 operations")

          if (w != "signal_reads") {
            // the check is not vacuous: a store holding one added file twice fails it
            val store = bench.storeDir("tampered")
            bench.written.clear()
            bench.syncOp(store)
            val ws = bench.written.toSeq
            check(bench.checkStores(ws).forall(_._1.isEmpty), s"$w: an untouched store fails the check")
            val f = Paths.get(ws.last.added.head)
            Files.copy(f, f.resolveSibling("part-99999-duplicate.parquet"))
            val tampered = ws.last.copy(added = ws.last.added :+ f.resolveSibling(
              "part-99999-duplicate.parquet").toString)
            check(bench.checkStores(Seq(tampered)).head._1.nonEmpty,
              s"$w: a store with duplicated rows passes the check")
          }
        } finally server.stop(0)
        println(s"selftest oracle $w: ok")
      }
    } finally spark.stop()
  }
}
