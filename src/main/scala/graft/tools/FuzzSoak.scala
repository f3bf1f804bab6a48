package graft.tools

/** Fresh-seed pagination fuzz campaign — the per-round soak (NOTES.md
  * tradition: every round closes with a multi-thousand-trial run on a
  * seed the tree has never seen, beyond the pinned-seed bench/spec
  * entries). Each trial starts and stops one ES double; the closing
  * line reports the JVM's live thread count.
  *
  * Usage: runMain graft.tools.FuzzSoak [seed] [trials]
  * With no seed a fresh random one is drawn; the closing line and every
  * failure name it, so a failing campaign reruns with that seed.
  */
object FuzzSoak {
  def main(args: Array[String]): Unit = {
    val seed = args.lift(0).map(_.toLong).getOrElse(new java.security.SecureRandom().nextLong())
    val trials = args.lift(1).map(_.toInt).getOrElse(3000)
    val t0 = System.nanoTime()
    graft.sources.PaginationFuzz.run(seed, trials)
    val threads = java.lang.management.ManagementFactory.getThreadMXBean.getThreadCount
    val secs = (System.nanoTime() - t0) / 1e9
    println(f"[fuzzsoak] $trials trials seed $seed clean in $secs%.1f s, " +
      s"$threads live JVM threads at the end")
  }
}
