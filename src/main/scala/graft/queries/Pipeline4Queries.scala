package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Round-5 tranche five: vocabulary economics, hash-split auditing, and
  * quantized embedding geometry — the last-mile tooling around tokenizer
  * and split decisions.
  */
object Pipeline4Queries {

  private def docs(s: org.apache.spark.sql.SparkSession, d: String) = Tables.load(s, d, "documents")
  private def emb(s: org.apache.spark.sql.SparkSession, d: String) = Tables.load(s, d, "embeddings")

  val defs: Seq[QueryDef] = Seq(

    // ── Zipf coverage curve: for vocabulary frequency thresholds t = 2^b,
    //    how many word types survive and what share of corpus tokens they
    //    cover — the curve that decides a tokenizer's vocab size (the
    //    knee is where coverage stops paying for vocabulary). One word-
    //    count aggregate; words group into power-of-two frequency bands
    //    by length(bin(n)) (integer log2); the cumulative-from-the-top
    //    window runs over the ≤ 20-row band table. Corpus touched once.
    QueryDef(
      "q151_zipf_coverage",
      (s, d) => {
        val bands = docs(s, d)
          .select(explode(split(col("text"), " ")).as("w"))
          .where(length(col("w")) > 0)
          .groupBy(col("w")).agg(count(lit(1)).as("n"))
          .select(length(bin(col("n"))).cast(IntegerType).as("band"), col("n"))
          .groupBy(col("band"))
          .agg(count(lit(1)).as("vocab_in_band"), sum(col("n")).as("tokens_in_band"))
        val wdesc = Window.orderBy(col("band").desc)
          .rowsBetween(Window.unboundedPreceding, 0)
        val tot = bands.agg(sum(col("tokens_in_band")).as("nt"))
        bands
          .withColumn("vocab_size", sum(col("vocab_in_band")).over(wdesc))
          .withColumn("tokens_covered", sum(col("tokens_in_band")).over(wdesc))
          .crossJoin(broadcast(tot))
          .select(expr("CAST(pow(2, band - 1) AS BIGINT)").as("threshold"),
            col("vocab_size"), col("tokens_covered"),
            expr("(tokens_covered * 1000000) div nt").as("coverage_ppm"))
          .orderBy(col("threshold"))
      },
      Some("""WITH u AS (SELECT w, count(*)::BIGINT n FROM
                 (SELECT unnest(string_split(text, ' ')) w FROM documents)
               WHERE len(w) > 0 GROUP BY 1),
        bands AS (SELECT CAST(len(bin(n)) AS INT) band,
                    count(*)::BIGINT vocab_in_band, sum(n)::BIGINT tokens_in_band
                  FROM u GROUP BY 1),
        t AS (SELECT sum(tokens_in_band)::BIGINT nt FROM bands),
        c AS (SELECT band,
                sum(vocab_in_band) OVER (ORDER BY band DESC)::BIGINT vocab_size,
                sum(tokens_in_band) OVER (ORDER BY band DESC)::BIGINT tokens_covered
              FROM bands)
        SELECT CAST(pow(2, band - 1) AS BIGINT) threshold, vocab_size, tokens_covered,
          CAST(tokens_covered * 1000000 // t.nt AS BIGINT) coverage_ppm
        FROM c CROSS JOIN t ORDER BY threshold""")
    ),

    // ── Hash-split uniformity audit: q103's doc_id hash split drives
    //    train/test carving everywhere (q121's Bloom split, q139's
    //    versions) — this op proves the hash spreads evenly. 100 buckets,
    //    per-bucket counts, and the max absolute deviation from the
    //    uniform expectation in ppm: max_b |100·n_b − N|·10⁶ div (100·N).
    //    One aggregate + a 100-row reduction; a skewed hash shows up as
    //    dev_ppm far above the binomial noise floor.
    QueryDef(
      "q152_hash_uniformity",
      (s, d) => {
        val b = docs(s, d)
          .select(pmod(graft.functions.TextFunctions.hash32(
            concat(lit("q103|"), col("doc_id").cast(StringType))), lit(100)).as("bkt"))
          .groupBy(col("bkt")).agg(count(lit(1)).as("n"))
          .cache()
        b.crossJoin(broadcast(b.agg(sum(col("n")).as("nt"))))
          .agg(count(lit(1)).as("n_buckets"), sum(col("n")).as("n_docs"),
            min(col("n")).as("min_bucket"), max(col("n")).as("max_bucket"),
            max(abs(col("n") * 100 - col("nt"))).as("maxdev"), max(col("nt")).as("nt2"))
          .select(col("n_buckets"), col("n_docs"), col("min_bucket"), col("max_bucket"),
            expr("(maxdev * 1000000) div (100 * nt2)").as("max_dev_ppm"))
      },
      Some("""WITH b AS (SELECT ('0x'||substr(md5('q103|'||doc_id::VARCHAR),1,8))::BIGINT % 100 bkt,
                 count(*)::BIGINT n
               FROM documents GROUP BY 1),
        t AS (SELECT sum(n)::BIGINT nt FROM b)
        SELECT count(*)::BIGINT n_buckets, sum(n)::BIGINT n_docs,
          min(n)::BIGINT min_bucket, max(n)::BIGINT max_bucket,
          CAST(max(abs(n*100 - t.nt)) * 1000000 // (100 * t.nt) AS BIGINT) max_dev_ppm
        FROM b CROSS JOIN t GROUP BY t.nt""")
    ),

    // ── Label-centroid distance matrix over QUANTIZED embeddings: the
    //    inter-class geometry report (which labels are confusable?).
    //    Determinism the q83 way: dims quantize to integers once
    //    (floor(v·2²⁰ + 0.5) — explicit half-up, identical in both
    //    engines), then every stage is exact integer arithmetic —
    //    per-(label, dim) sums via ONE posexplode + hash aggregate,
    //    centroid = sum div n, pairwise Σ (c1−c2)² by a dim equi-join.
    //    At 100 TB the per-dim aggregate is the only corpus-sized stage
    //    (map-side combine over label×dim cells); the matrix join runs
    //    on labels²·dims dimension rows.
    QueryDef(
      "q153_centroid_matrix",
      (s, d) => {
        val cents = emb(s, d)
          .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "v")))
          .select(col("label"), col("dim"),
            expr("CAST(floor(CAST(v AS DOUBLE) * 1048576 + 0.5) AS BIGINT)").as("q"))
          .groupBy(col("label"), col("dim"))
          // centroid = floor(mean): shift by 2^21 per row so the numerator
          // is positive — Spark `div` truncates, DuckDB `//` floors, and
          // they only agree on non-negative operands (q146's rule)
          .agg(expr("((sum(q) + count(1) * 2097152) div count(1)) - 2097152").as("c"))
        cents.toDF("l1", "dim", "c1")
          .join(cents.toDF("l2", "dim2", "c2"),
            col("dim") === col("dim2") && col("l1") < col("l2"))
          .groupBy(col("l1"), col("l2"))
          .agg(sum((col("c1") - col("c2")) * (col("c1") - col("c2"))).as("dist_sq"))
      },
      Some("""WITH q AS (SELECT label, j dim,
                 CAST(floor(CAST(embedding[j+1] AS DOUBLE) * 1048576 + 0.5) AS BIGINT) q
               FROM embeddings, unnest(range(0, len(embedding))) t(j)),
        c AS (SELECT label, dim,
                CAST(((sum(q) + count(*) * 2097152) // count(*)) - 2097152 AS BIGINT) c
              FROM q GROUP BY 1, 2)
        SELECT a.label l1, b.label l2, sum((a.c - b.c) * (a.c - b.c))::BIGINT dist_sq
        FROM c a JOIN c b ON a.dim = b.dim AND a.label < b.label
        GROUP BY 1, 2""")
    ),

    // ── HLL register MERGEABILITY — the property that makes sketches a
    //    distributed-systems tool at all: per-source register arrays
    //    (64 registers; rank = position of the lowest set bit of the
    //    hash suffix, an integer log2 via length(bin(x & -x)) — no float
    //    log) merged by element-wise MAX must equal the registers built
    //    directly over the union. Both sides computed, compared per
    //    register, pinned TRUE — plus an integer register checksum the
    //    hash check bites on. This is why a 1000-executor cardinality
    //    estimate needs no global distinct: registers combine
    //    associatively exactly like this query's merge aggregate.
    //    (The final cardinality estimate is a driver-side scalar formula
    //    over 64 small integers — deliberately out of scope; the
    //    distributed property IS the register algebra.)
    QueryDef(
      "q160_hll_merge",
      (s, d) => {
        val m = 64
        val terms = docs(s, d)
          .select(col("source"), explode(split(col("text"), " ")).as("term"))
          .where(length(col("term")) > 0)
          .withColumn("h", graft.functions.TextFunctions.hash32(col("term")))
          .select(col("source"),
            pmod(col("h"), lit(m)).as("reg"),
            expr(s"h div $m").as("rest"))
          .withColumn("rank",
            when(col("rest") === 0, lit(27L))
              .otherwise(expr("CAST(length(bin(rest & -rest)) AS BIGINT)")))
          .cache()
        val perSource = terms.groupBy(col("source"), col("reg"))
          .agg(max(col("rank")).as("r"))
        val merged = perSource.groupBy(col("reg")).agg(max(col("r")).as("r_merged"))
        val direct = terms.groupBy(col("reg")).agg(max(col("rank")).as("r_direct"))
        merged.join(direct, "reg")
          .agg(count(lit(1)).as("n_registers"),
            min(col("r_merged") === col("r_direct")).as("merge_equals_direct"),
            sum((col("reg") + 1) * col("r_direct")).as("register_checksum"))
      },
      Some(s"""WITH t AS (SELECT source, w term FROM
                 (SELECT source, unnest(string_split(text, ' ')) w FROM documents)
               WHERE len(w) > 0),
        h AS (SELECT source,
                ('0x'||substr(md5(term),1,8))::BIGINT % 64 reg,
                ('0x'||substr(md5(term),1,8))::BIGINT // 64 rest
              FROM t),
        r AS (SELECT source, reg,
                CASE WHEN rest = 0 THEN 27
                     ELSE len(bin(rest & -rest)) END::BIGINT rank
              FROM h),
        ps AS (SELECT source, reg, max(rank) r FROM r GROUP BY 1, 2),
        mg AS (SELECT reg, max(r) r_merged FROM ps GROUP BY 1),
        dr AS (SELECT reg, max(rank) r_direct FROM r GROUP BY 1)
        SELECT count(*)::BIGINT n_registers,
          min(mg.r_merged = dr.r_direct) AS merge_equals_direct,
          sum((mg.reg + 1) * dr.r_direct)::BIGINT AS register_checksum
        FROM mg JOIN dr USING (reg)""")
    ),

    // ── Pipeline attrition funnel — the per-stage audit of the curation
    //    gauntlet: for each sequential stage (q74's rules minus the
    //    terminal-punct rule — the punctuation-free synthetic corpus
    //    would zero the funnel at stage 1, q85's documented carve-out —
    //    then normalized dedup keep-first), how many docs ENTERED, FAILED
    //    there, and SURVIVED. The transparency report q85's end-to-end
    //    pipeline doesn't show (q85 keeps survivors; this keeps the
    //    drop accounting). ONE pass computes every stage flag + the
    //    first-failure index; the funnel is a 6-row aggregate. Dedup
    //    keep-first is the same min-id-per-canon-hash aggregate as q75,
    //    joined back as a flag — no window over the corpus.
    QueryDef(
      "q161_attrition_funnel",
      (s, d) => {
        val t = graft.functions.TextFunctions.tokens(col("text"))
        val canon = graft.functions.CanonicalizeExpressions.canonAlnum(col("text"))
        // cached: the keeper aggregate AND the stage join both consume the
        // flagged corpus, and the canon/tokenize/md5 expressions are the
        // expensive part — they ran twice (corpus-sized ⇒ cache, r18)
        val flagged = docs(s, d)
          .withColumn("canon_hash", md5(canon))
          .withColumn("s1", size(t) >= 10)
          .withColumn("s2", size(filter(t, x => length(x) > 20)) === 0)
          .withColumn("s3", size(filter(t, x => x.isin(TextQueries.Stop: _*))) > 0)
          .cache()
        val keepers = flagged.groupBy(col("canon_hash"))
          .agg(min(col("doc_id")).as("keep_id"))
        val staged = flagged.join(keepers, "canon_hash")
          .withColumn("s4", col("doc_id") === col("keep_id"))
          .select(when(!col("s1"), 1).when(!col("s2"), 2).when(!col("s3"), 3)
            .when(!col("s4"), 4).otherwise(5).as("first_fail"))
          .groupBy(col("first_fail")).agg(count(lit(1)).as("n"))
          // ≤5 rows, consumed by the total AND the stage join (r18)
          .localCheckpoint(false)
        val names = Seq("r_min_words", "r_word_len", "r_stopword",
          "dedup_keep_first")
        val stageDim = {
          import s.implicits._
          names.zipWithIndex.map { case (n, i) => (i + 1, n) }
            .toDF("stage", "stage_name")
        }
        val wcum = org.apache.spark.sql.expressions.Window.orderBy(col("stage"))
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
        val tot = staged.agg(sum(col("n")).as("n_total"))
        stageDim
          .join(staged.withColumnRenamed("first_fail", "stage"), Seq("stage"), "left_outer")
          .select(col("stage"), col("stage_name"),
            coalesce(col("n"), lit(0L)).as("n_failed"))
          .withColumn("failed_before", coalesce(sum(col("n_failed")).over(wcum), lit(0L)))
          .crossJoin(broadcast(tot))
          .select(col("stage"), col("stage_name"),
            (col("n_total") - col("failed_before")).as("n_entered"),
            col("n_failed"),
            (col("n_total") - col("failed_before") - col("n_failed")).as("n_survived"))
      },
      Some(s"""WITH d AS (SELECT doc_id, text, string_split(text, ' ') t,
                 md5(trim(regexp_replace(regexp_replace(lower(text),
                   '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) canon_hash
               FROM documents),
        k AS (SELECT canon_hash, min(doc_id) keep_id FROM d GROUP BY 1),
        f AS (SELECT d.doc_id,
                len(d.t) >= 10 s1,
                len(list_filter(d.t, x -> length(x) > 20)) = 0 s2,
                len(list_filter(d.t, x -> list_contains(${TextQueries.sqlList(TextQueries.Stop)}, x))) > 0 s3,
                d.doc_id = k.keep_id s4
              FROM d JOIN k USING (canon_hash)),
        ff AS (SELECT CASE WHEN NOT s1 THEN 1 WHEN NOT s2 THEN 2
                 WHEN NOT s3 THEN 3 WHEN NOT s4 THEN 4
                 ELSE 5 END first_fail
               FROM f),
        g AS (SELECT first_fail, count(*)::BIGINT n FROM ff GROUP BY 1),
        t AS (SELECT sum(n)::BIGINT n_total FROM g),
        sd AS (SELECT * FROM (VALUES (1, 'r_min_words'), (2, 'r_word_len'),
                 (3, 'r_stopword'), (4, 'dedup_keep_first')) v(stage, stage_name)),
        j AS (SELECT sd.stage, sd.stage_name, coalesce(g.n, 0)::BIGINT n_failed
              FROM sd LEFT JOIN g ON g.first_fail = sd.stage),
        c AS (SELECT *, coalesce(sum(n_failed) OVER (ORDER BY stage
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT fb
              FROM j)
        SELECT c.stage, c.stage_name,
          (t.n_total - c.fb)::BIGINT n_entered, c.n_failed,
          (t.n_total - c.fb - c.n_failed)::BIGINT n_survived
        FROM c CROSS JOIN t""")
    ),

    // ── Probability-proportional-to-size systematic sample: pick ~1/50 of
    //    the corpus with inclusion probability ∝ document length, in ONE
    //    pass and EXACT integer arithmetic (the oracle-safe alternative to
    //    u^(1/w) weighted reservoirs, whose float pow no two engines agree
    //    on). Docs are laid on a line in doc_id order, each owning a
    //    [cum−w, cum) span; sampling points sit at offset + m·step; a doc
    //    is selected iff a point lands in its span — long docs can catch
    //    several points (n_points is the multiplicity, exactly what PPS
    //    estimators weight by). The cumulative sum is the distributed
    //    two-phase shape (1000-doc shards → per-shard totals → tiny
    //    shard-offset window → within-shard window), so no single task
    //    ever sees the whole corpus; selection itself is a map-side
    //    integer comparison. At 100 TB: one scan, one narrow aggregate,
    //    zero candidate blowup — THE way to draw a length-weighted
    //    pretraining subsample.
    QueryDef(
      "q170_pps_sample",
      (s, d) => {
        val w = docs(s, d)
          .select(col("doc_id"), (length(col("text")) + 1).cast(LongType).as("w"))
        val tot = w.agg(sum(col("w")).as("total"))
        DiagnosticsQueries.weightLine(w)
          .crossJoin(broadcast(tot))
          .withColumn("step", expr("total div 50"))
          .withColumn("offs", expr("step div 2"))
          // integer div throughout — float division drifts exactly at the
          // span boundaries the whole scheme is defined by
          .withColumn("hi",
            expr("CASE WHEN cum >= offs THEN (cum - offs) div step + 1 ELSE 0 END"))
          .withColumn("lo",
            expr("CASE WHEN cum - w >= offs THEN (cum - w - offs) div step + 1 ELSE 0 END"))
          .withColumn("n_points", col("hi") - col("lo"))
          .where(col("n_points") > 0)
          .select(col("doc_id"), col("w"), col("cum"), col("n_points"))
      },
      Some("""WITH w AS (SELECT doc_id, (length(text) + 1)::BIGINT w FROM documents),
        t AS (SELECT sum(w)::BIGINT total FROM w),
        c AS (SELECT doc_id, w,
                sum(w) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)::BIGINT cum
              FROM w),
        p AS (SELECT doc_id, w, cum,
                (total // 50) step, (total // 50) // 2 offs
              FROM c CROSS JOIN t)
        SELECT doc_id, w, cum,
          ((CASE WHEN cum >= offs THEN (cum - offs) // step + 1 ELSE 0 END)
           - (CASE WHEN cum - w >= offs THEN (cum - w - offs) // step + 1 ELSE 0 END))::BIGINT
            AS n_points
        FROM p
        WHERE (CASE WHEN cum >= offs THEN (cum - offs) // step + 1 ELSE 0 END)
            > (CASE WHEN cum - w >= offs THEN (cum - w - offs) // step + 1 ELSE 0 END)""")
    )
  )
}
