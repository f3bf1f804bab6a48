package graft

import org.apache.spark.sql.functions._

import graft.queries.LiveQueries
import graft.queries.LiveQueries.{StubCounters, StubDoc}

/** Grouped COUNT pushdown on the live ES source (`groupBy(subject)
  * .count()` → one size-0 `terms` aggregation probe): answered without
  * paging a single document, EXACT-ONLY (bucket spill or a shard error
  * bound rejects the pushdown back to the row scan), and gated behind a
  * pushed `subject IS NOT NULL` (a terms agg only buckets docs carrying
  * the field — without the pushed not-null, the row scan's possible null
  * group would silently vanish).
  */
class EsGroupCountSpec extends SparkTestBase {

  private def mkDocs(n: Int, subjects: Int): IndexedSeq[StubDoc] =
    (0 until n).map { i =>
      val subj = s"s${i % subjects}"
      val ms = 1704000000000L + i * 1000L
      val iso = java.time.Instant.ofEpochMilli(ms)
      StubDoc(s"d$i", subj, ms * 1000L,
        s"""{"id":"d$i","subject":"$subj","source":"x","specversion":"1.0",""" +
          s""""time":"$iso","dataschema":"dimo.zone.status/v2.0","type":"t","data":{}}""")
    }

  private def liveDf(server: com.sun.net.httpserver.HttpServer,
      extra: Map[String, String] = Map.empty) = {
    var r = spark.read.format("graft-status-live")
      .option("url", s"http://127.0.0.1:${server.getAddress.getPort}")
      .option("batchSize", "500")
    extra.foreach { case (k, v) => r = r.option(k, v) }
    r.load()
  }

  test("groupBy(subject).count() is answered by the terms probe — zero documents page") {
    val docs = mkDocs(40, 4)
    val served = new java.util.concurrent.atomic.AtomicLong
    val server = LiveQueries.startStub(docs, counters = StubCounters(served = served))
    try {
      val got = liveDf(server)
        .where(col("subject").isNotNull)
        .groupBy(col("subject")).count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got === Map("s0" -> 10L, "s1" -> 10L, "s2" -> 10L, "s3" -> 10L))
      assert(served.get() === 0L,
        s"a pushed grouped COUNT must never page documents: ${served.get()} shipped")
      // the plan says so too
      val plan = liveDf(server).where(col("subject").isNotNull)
        .groupBy(col("subject")).count().queryExecution.executedPlan.toString
      assert(plan.contains("groupBy(subject) count(*) via terms probe"), plan)
    } finally server.stop(0)
  }

  test("pushed filters ride into the probe: a time window narrows the buckets") {
    val docs = mkDocs(40, 4)
    val served = new java.util.concurrent.atomic.AtomicLong
    val server = LiveQueries.startStub(docs, counters = StubCounters(served = served))
    try {
      val cut = new java.sql.Timestamp(1704000000000L + 20000L) // docs 20..39
      val got = liveDf(server)
        .where(col("subject").isNotNull && col("time") >= cut)
        .groupBy(col("subject")).count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got === Map("s0" -> 5L, "s1" -> 5L, "s2" -> 5L, "s3" -> 5L))
      assert(served.get() === 0L)
    } finally server.stop(0)
  }

  test("without a pushed subject IS NOT NULL the grouped count row-scans (null group safety)") {
    val docs = mkDocs(12, 3)
    val served = new java.util.concurrent.atomic.AtomicLong
    val server = LiveQueries.startStub(docs, counters = StubCounters(served = served))
    try {
      val got = liveDf(server)
        .groupBy(col("subject")).count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got === Map("s0" -> 4L, "s1" -> 4L, "s2" -> 4L))
      assert(served.get() > 0L,
        "no pushed not-null: the count must come from decoded rows (terms aggs drop null groups)")
    } finally server.stop(0)
  }

  test("bucket spill (terms size < cardinality) rejects the pushdown — row scan, still exact") {
    val docs = mkDocs(40, 8)
    val served = new java.util.concurrent.atomic.AtomicLong
    val server = LiveQueries.startStub(docs, counters = StubCounters(served = served))
    try {
      // termsSize 3 < 8 subjects: sum_other_doc_count > 0 ⇒ the probe
      // rejects itself and the row scan answers
      val got = liveDf(server, Map("termsSize" -> "3"))
        .where(col("subject").isNotNull)
        .groupBy(col("subject")).count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got === (0 until 8).map(i => s"s$i" -> 5L).toMap)
      assert(served.get() > 0L,
        "a spilled terms agg is approximate — the row scan must have answered")
    } finally server.stop(0)
  }

  test("a signal filter or per-subject stops reject the grouped pushdown (row set differs)") {
    val docs = mkDocs(12, 3).map(d => d.copy(signalJson = Some(d.json)))
    val served = new java.util.concurrent.atomic.AtomicLong
    val server = LiveQueries.startStub(docs, counters = StubCounters(served = served))
    try {
      val withSignals = spark.read.format("graft-status-live")
        .option("url", s"http://127.0.0.1:${server.getAddress.getPort}")
        .option("batchSize", "500").option("signals", "Vehicle.Speed").load()
        .where(col("subject").isNotNull)
        .groupBy(col("subject")).count().collect()
      assert(withSignals.nonEmpty && served.get() > 0L,
        "signals set: exists clauses change the row set — must row-scan")
    } finally server.stop(0)
  }

  test("a fleet-subset IN composes: terms clause in the probe, subset buckets only, probe-only") {
    val docs = mkDocs(40, 4)
    val served = new java.util.concurrent.atomic.AtomicLong
    val server = LiveQueries.startStub(docs, counters = StubCounters(served = served))
    try {
      val got = liveDf(server)
        .where(col("subject").isin("s1", "s3"))
        .groupBy(col("subject")).count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got === Map("s1" -> 10L, "s3" -> 10L))
      assert(served.get() === 0L,
        s"an IN-scoped grouped COUNT must stay probe-only: ${served.get()} docs shipped")
      // ungrouped too: the membership count is one exact-total probe
      assert(liveDf(server).where(col("subject").isin("s0", "s2")).count() === 20L)
      assert(served.get() === 0L)
    } finally server.stop(0)
  }

  test("a subject equality composes: one bucket, probe-only") {
    val docs = mkDocs(30, 3)
    val served = new java.util.concurrent.atomic.AtomicLong
    val server = LiveQueries.startStub(docs, counters = StubCounters(served = served))
    try {
      val got = liveDf(server)
        .where(col("subject") === "s1")
        .groupBy(col("subject")).count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got === Map("s1" -> 10L))
      assert(served.get() === 0L)
    } finally server.stop(0)
  }
}
