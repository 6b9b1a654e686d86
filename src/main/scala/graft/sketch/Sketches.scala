package graft.sketch

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Cardinality sketching for 100 TB-scale pipelines: a HyperLogLog
 * (Flajolet et al. 2007) built entirely from engine-portable
 * primitives, so the WHOLE sketch — registers, sum, estimate — is
 * reproducible in ANSI SQL and carries a full value oracle (unlike
 * `approx_count_distinct`, whose binary sketch is engine-private).
 *
 * Portability discipline:
 *  - the 60-bit hash is md5-derived (first 15 hex chars → BIGINT),
 *    identical across engines;
 *  - bucket / remainder come from bit ops (`&`, `>>`), not division;
 *  - the leading-zero rank uses an integer comparison ladder — no
 *    float log2, which differs at exact powers of two;
 *  - the register sum Σ 2^(50−M_j) is EXACT long arithmetic (rank
 *    capped at 50 keeps every term integral; ≤ 2^60 total), so partial
 *    aggregation order cannot change it;
 *  - the final estimate divides/multiplies identical operands on both
 *    engines (bit-deterministic IEEE), with the standard linear-counting
 *    branch for small cardinalities expressed identically.
 *
 * Scale shape: one hash aggregation to register grain (m=2^p rows,
 * map-side combined — a mergeable sketch by construction: max() per
 * register IS the merge operator), then a constant-size reduction.
 * No shuffle carries more than m rows.
 */
object Sketches {

  /** Leading-rank of the (60−p)-bit remainder: position of the first
   *  set bit from the MSB (1-based), 50-capped; an integer comparison
   *  ladder so no float log is involved.
   */
  private def rankCol(rem: Column, width: Int): Column = {
    val bitlen = (0 until width)
      .map(k => when(rem >= lit(1L << k), 1).otherwise(0))
      .reduce[Column](_ + _)
    least(lit(width + 1) - bitlen, lit(50))
  }

  /** One-row HLL report over `key`: (m, v_zero, t_sum, est, n_exact).
   *  `n_exact` is the true distinct count, computed alongside so the
   *  sketch's error is visible in the output (and the oracle compares
   *  both paths).
   */
  /** The HLL's register table `(bucket, m_rank)` — the MERGEABLE state
   *  a production pipeline persists per shard/day and folds with
   *  [[hllMergeRegisters]] (register max is associative/commutative/
   *  idempotent, so incremental unions are exact). Constant size: ≤ 2^p
   *  rows regardless of input cardinality.
   */
  def hllRegisters(df: DataFrame, key: Column, p: Int = 10): DataFrame = {
    require(p >= 4 && p <= 16, "p out of the sane HLL range")
    val m = 1 << p
    val width = 60 - p
    val h = conv(substring(md5(key.cast("string")), 1, 15), 16, 10).cast("long")
    df.select(h.as("h"))
      .select(
        col("h").bitwiseAND(lit((m - 1).toLong)).as("bucket"),
        shiftright(col("h"), p).as("rem"))
      .groupBy("bucket")
      .agg(max(rankCol(col("rem"), width)).as("m_rank"))
  }

  /** Fold register tables from disjoint (or overlapping — idempotent)
   *  slices into one: per-bucket max. */
  def hllMergeRegisters(regTables: DataFrame*): DataFrame =
    regTables.reduce(_ unionByName _)
      .groupBy("bucket").agg(max(col("m_rank")).as("m_rank"))

  /** One-row estimate from a register table: (m, v_zero, t_sum, est).
   *  alpha and the 2^50 scale are literals — identical doubles on any
   *  engine; T is exact integer, so est = f(identical operands).
   */
  def hllEstimateFromRegisters(regs: DataFrame, p: Int = 10): DataFrame = {
    val m = 1 << p
    val alpha = lit(0.7213) / (lit(1.0) + lit(1.079) / lit(m.toDouble))
    regs.agg(
        count(lit(1)).as("seen"),
        sum(expr("shiftleft(cast(1 as bigint), cast(50 - m_rank as int))")).as("t_obs"))
      .withColumn("v_zero", lit(m.toLong) - col("seen"))
      .withColumn("t_sum", // empty input: sum() is NULL, not 0
        coalesce(col("t_obs"), lit(0L)) + col("v_zero") * lit(1L << 50))
      .withColumn("raw",
        alpha * lit(m.toDouble) * lit(m.toDouble) *
          lit((1L << 50).toDouble) / col("t_sum"))
      .withColumn("est",
        round(
          when(col("v_zero") > 0 && col("raw") <= lit(2.5 * m),
            lit(m.toDouble) * log(lit(m.toDouble) / col("v_zero")))
            .otherwise(col("raw")),
          6))
      .select(
        lit(m.toLong).as("m"), col("v_zero"), col("t_sum"), col("est"))
  }

  def hllReport(df: DataFrame, key: Column, p: Int = 10): DataFrame = {
    require(p >= 4 && p <= 16, "p out of the sane HLL range")
    hllEstimateFromRegisters(hllRegisters(df, key, p), p)
      .crossJoin(df.agg(count_distinct(key).as("n_exact")))
      .select(col("m"), col("v_zero"), col("t_sum"), col("est"),
        col("n_exact"))
  }

  /** Engine-portable cell index for row `j` of a width-2^wBits sketch:
   *  md5-derived 60-bit hash of "j_key", masked to the row width. The
   *  same expression is emitted into the SQL oracles below, so the
   *  sketch layout is identical across engines.
   */
  private def cellOf(j: Column, key: Column, wMask: Long): Column =
    conv(substring(md5(concat_ws("_", j, key)), 1, 15), 16, 10)
      .cast("long").bitwiseAND(lit(wMask))

  private[graft] def cellSqlOf(j: String, key: String, wMask: Long): String =
    s"('0x' || substr(md5(CAST($j AS VARCHAR) || '_' || $key), 1, 15))::BIGINT & $wMask"

  /**
   * Count-Min sketch (Cormode & Muthukrishnan 2005) heavy-hitter report:
   * estimate the counts of the exact top-`k` keys through a d×2^wBits
   * counter grid and emit both paths side by side, so the sketch's
   * one-sided error (est ≥ n_exact always) is visible in the output and
   * the oracle checks the full grid arithmetic.
   *
   * Scale shape: the corpus collapses to KEY grain in one map-side-
   * combined aggregation; the grid is a second aggregation whose output
   * is d·2^wBits rows REGARDLESS of corpus size (and is mergeable by
   * plain `+`, so grids from disjoint corpus shards sum — tested). The
   * exact top-k side is a TakeOrdered (parallel partial top-k), never a
   * global sort; the probe⋈grid join broadcasts the k·d probe rows.
   *
   * Portability: cell indices are md5-derived (see `cellOf`), counts
   * are exact longs — nothing in the pipeline is engine-private.
   */
  /** Count-Min counter grid `(j, cell, c)` over `key` — the mergeable
   *  (plain `+`) fixed-size state behind both the heavy-hitter report
   *  and the join-size inner product. d·2^wBits rows regardless of
   *  input size.
   */
  def cmsGrid(
      df: DataFrame, key: Column, d: Int = 4, wBits: Int = 11): DataFrame = {
    require(d >= 1 && d <= 8 && wBits >= 4 && wBits <= 24, "CMS shape out of range")
    val wMask = (1L << wBits) - 1
    df.select(key.cast("string").as("key"))
      .groupBy("key").agg(count(lit(1)).as("n"))
      .select(col("key"), col("n"),
        explode(sequence(lit(0), lit(d - 1))).as("j"))
      .groupBy(col("j"), cellOf(col("j"), col("key"), wMask).as("cell"))
      .agg(sum(col("n")).as("c"))
  }

  /** Join-cardinality estimate via the CM inner product (Cormode &
   *  Muthukrishnan 2005 §4.2): |A ⨝ B| on the key ≤ min_j Σ_cell
   *  cmA[j]·cmB[j], with ONE-SIDED error (never an underestimate) —
   *  the planner-style "how big will this join be" answer from two
   *  fixed-KB sketches, no data joined. At 100 TB each side's grid is
   *  a d·2^wBits aggregate a coordinator keeps per table/partition;
   *  estimating any pairwise join cost is then grid-only arithmetic.
   */
  def cmsJoinSize(
      a: DataFrame, aKey: Column, b: DataFrame, bKey: Column,
      d: Int = 4, wBits: Int = 11): DataFrame =
    cmsGrid(a, aKey, d, wBits)
      .join(cmsGrid(b, bKey, d, wBits).withColumnRenamed("c", "cb"),
        Seq("j", "cell"))
      .groupBy("j").agg(sum(col("c") * col("cb")).as("ip"))
      .agg(min(col("ip")).as("est_join_rows"))

  def cmsTopK(
      df: DataFrame, key: Column, k: Int = 20,
      d: Int = 4, wBits: Int = 11): DataFrame = {
    require(d >= 1 && d <= 8 && wBits >= 4 && wBits <= 24, "CMS shape out of range")
    val wMask = (1L << wBits) - 1
    val counts = df.select(key.cast("string").as("key"))
      .groupBy("key").agg(count(lit(1)).as("n_exact"))
    // the key-grain counts feed both the grid and the exact top-k
    graft.dedup.Dedup.withScopedPersist(counts) {
      cmsTopKFrom(counts, k, d, wBits)
    }
  }

  /** The CMS dataflow from pre-aggregated (key, n_exact) counts —
   *  separated so plan guards can inspect it without the scoped
   *  persist's checkpoint hiding the internals.
   */
  private[graft] def cmsTopKFrom(
      counts: DataFrame, k: Int, d: Int, wBits: Int): DataFrame = {
    val wMask = (1L << wBits) - 1
    val cells = counts
      .select(col("key"), col("n_exact"),
        explode(sequence(lit(0), lit(d - 1))).as("j"))
      .groupBy(col("j"), cellOf(col("j"), col("key"), wMask).as("cell"))
      .agg(sum("n_exact").as("cnt"))
    val top = counts.orderBy(col("n_exact").desc, col("key")).limit(k)
      .withColumn("rank",
        row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("n_exact").desc, col("key"))).cast("long"))
    val probes = top
      .select(col("key"), col("n_exact"), col("rank"),
        explode(sequence(lit(0), lit(d - 1))).as("j"))
      .withColumn("cell", cellOf(col("j"), col("key"), wMask))
    broadcast(probes).join(cells, Seq("j", "cell"))
      .groupBy("key", "n_exact", "rank")
      .agg(min(col("cnt")).as("est"))
      .select(col("key"), col("n_exact"), col("est"), col("rank"))
  }

  /** The matching DuckDB oracle for `cmsTopK`. `countsSql` must yield
   *  (key VARCHAR, n_exact BIGINT) — the exact key-grain counts the
   *  engine side aggregates first.
   */
  def cmsOracleSql(countsSql: String, k: Int = 20, d: Int = 4, wBits: Int = 11): String = {
    val wMask = (1L << wBits) - 1
    s"""WITH counts AS ($countsSql),
       |cells AS (
       |  SELECT j.g AS j, ${cellSqlOf("j.g", "key", wMask)} AS cell,
       |    CAST(sum(n_exact) AS BIGINT) AS cnt
       |  FROM counts, generate_series(0, ${d - 1}) j(g)
       |  GROUP BY 1, 2),
       |top AS (
       |  SELECT key, n_exact, rank FROM (
       |    SELECT key, n_exact,
       |      row_number() OVER (ORDER BY n_exact DESC, key) AS rank
       |    FROM counts) WHERE rank <= $k),
       |probes AS (
       |  SELECT key, n_exact, rank, j.g AS j,
       |    ${cellSqlOf("j.g", "key", wMask)} AS cell
       |  FROM top, generate_series(0, ${d - 1}) j(g))
       |SELECT p.key, p.n_exact, CAST(min(c.cnt) AS BIGINT) AS est, p.rank
       |FROM probes p JOIN cells c USING (j, cell)
       |GROUP BY 1, 2, 4
       |ORDER BY rank""".stripMargin
  }

  /**
   * Bloom-filter membership probe — the constant-size decontamination
   * scale path. The exact `decontaminate` operator joins the corpus
   * against the distinct holdout-shingle SET; at 100 TB that set may
   * itself be billions of rows, while a Bloom filter over it is a fixed
   * 2^mBits bits (32 KiB at mBits=18) that ships to every executor once.
   *
   * `keys` (reference set) folds down to the filter itself: per hash
   * slice j, the set positions OR-aggregate into 64-bit words
   * DISTRIBUTED (map-side combine collapses each partition to
   * ≤ 2^mBits/64 words), and only the aggregated words — bounded by the
   * Bloom's own constant size (4096 longs per slice at mBits=18), never
   * by |keys| — reach the driver. Membership is then a PURE codegen'd
   * bit-test against kHash literal word arrays: no per-probe row
   * explosion, no join, no re-aggregation — the probe side plan is
   * scan → filter. False positives are deterministic (md5-derived
   * positions), so engine and oracle flag the SAME keys bit-for-bit;
   * false negatives are impossible — the probe result is a strict
   * superset of exact membership (tested). Building the filter
   * materializes `keys` eagerly (it IS the filter constant), matching
   * how a production pipeline builds the Bloom once and reuses it.
   *
   * Output: `probes` rows whose `keyCol` is (apparently) in `keys`.
   */
  /** The Bloom layout's engine-portable 60-bit key hash (top 15 hex
   *  chars of md5). Public so callers can pre-hash keys — e.g. hash
   *  during the shingle explode and `distinct()` on the 8-byte hash
   *  instead of the raw string, shrinking the dedup shuffle — and pass
   *  `preHashed = true` to [[bloomMember]].
   */
  def bloomHash60(c: Column): Column =
    conv(substring(md5(c.cast("string")), 1, 15), 16, 10).cast("long")

  def bloomMember(
      keys: DataFrame, keyCol: String, probes: DataFrame, probeKeyCol: String,
      kHash: Int = 3, mBits: Int = 18, preHashed: Boolean = false): DataFrame = {
    // the kHash positions are disjoint bit-slices of ONE 60-bit
    // md5-derived hash — one hash evaluation per key (not kHash), and
    // the per-position work is pure bit arithmetic. Slices of a single
    // md5 are independent enough for Bloom FP behavior, and the whole
    // layout stays engine-portable.
    require(kHash >= 1 && mBits >= 8 && kHash * mBits <= 60,
      "bloom slices must fit the 60-bit hash")
    val wMask = (1L << mBits) - 1
    val nWords = 1 << (mBits - 6)
    def h60(c: Column): Column = if (preHashed) c else bloomHash60(c)
    // (j, word-index) → OR of set bits; tiny after map-side combine
    val wordRows = keys
      .select(h60(col(keyCol)).as("h"))
      .select(posexplode(array((0 until kHash).map(j =>
        shiftright(col("h"), j * mBits).bitwiseAND(lit(wMask))): _*))
        .as(Seq("j", "pos")))
      .groupBy(col("j"), shiftright(col("pos"), 6).as("w"))
      .agg(expr("bit_or(shiftleft(1L, CAST(pos % 64 AS INT)))").as("bits"))
      .collect()
    val words = Array.fill(kHash)(new Array[Long](nWords))
    wordRows.foreach(r => words(r.getInt(0))(r.getLong(1).toInt) = r.getLong(2))
    // staging-column names must not collide with the probe schema (a
    // probe column named `_h` would be silently overwritten and then
    // returned in its place) — pick a prefix no probe column starts with
    val pre = Iterator.from(0).map(i => s"_bm${i}_")
      .find(p => !probes.columns.exists(_.startsWith(p))).get
    val probed = probes.withColumn(s"${pre}h", h60(col(probeKeyCol)))
    val withPos = (0 until kHash).foldLeft(probed) { (df, j) =>
      df.withColumn(s"${pre}p$j",
          shiftright(col(s"${pre}h"), j * mBits).bitwiseAND(lit(wMask)))
        .withColumn(s"${pre}w$j",
          element_at(lit(words(j)), shiftright(col(s"${pre}p$j"), 6).cast("int") + 1))
    }
    val member = (0 until kHash)
      .map(j => expr(s"(shiftright(${pre}w$j, CAST(${pre}p$j % 64 AS INT)) & 1) = 1"))
      .reduce(_ && _)
    withPos.where(member).select(probes.columns.toIndexedSeq.map(col): _*)
  }

  /**
   * Fixed-grid quantile sketch — the mergeable-quantile scale path
   * (the third sketch family beside HLL cardinality and CMS frequency).
   * Two passes, each collapsing the input to constant size with
   * map-side combine: (1) min/max/count, (2) counts over B equal-width
   * buckets (mergeable by plain `+` across shards). The p-quantile
   * estimate is the lower edge of the first bucket whose cumulative
   * count reaches ceil(p·n) — grid error ≤ (max−min)/B, and every
   * ingredient (integer ranks, identical-operand edge arithmetic) is
   * bit-deterministic across engines, so the approximate path carries a
   * full value oracle.
   *
   * Output per probe p: (p, rank, bucket, est).
   */
  /** Bucket counts of `v` on the fixed (lo, hi, b) grid given by `mm`
   *  — the MERGEABLE state of the quantile sketch: counts from
   *  disjoint shards under the SAME grid sum exactly (plain `+`), so
   *  incremental builds need the range fixed upfront (the documented
   *  contract of every fixed-grid sketch).
   */
  def quantileGridCounts(v: DataFrame, mm: DataFrame, b: Int): DataFrame =
    v.crossJoin(broadcast(mm))
      .select(
        when(col("hi") === col("lo"), lit(0))
          .otherwise(least(
            lit(b - 1),
            floor((col("v") - col("lo")) / (col("hi") - col("lo")) * b)
              .cast("int")))
          .as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("cnt"))

  /** Rank-probe the grid: quantile estimates for `probes` from bucket
   *  counts + the (lo, hi, n) frame the grid was built against. */
  def quantileFromGrid(
      grid: DataFrame, mm: DataFrame, probes: Seq[Double],
      b: Int): DataFrame = {
    val cum = grid
      .withColumn("cum",
        sum("cnt").over(org.apache.spark.sql.expressions.Window
          .orderBy("bucket")
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
    val pr = broadcast(
      grid.sparkSession.createDataFrame(probes.map(Tuple1(_))).toDF("p"))
    pr.crossJoin(broadcast(mm))
      .withColumn("rank", greatest(lit(1L), ceil(col("p") * col("n")).cast("long")))
      .join(cum, col("cum") >= col("rank"))
      .groupBy("p", "rank", "lo", "hi")
      .agg(min("bucket").as("bucket"))
      .select(
        col("p"), col("rank"), col("bucket").cast("long").as("bucket"),
        round(col("lo") + col("bucket") * (col("hi") - col("lo")) / b, 6).as("est"))
  }

  def quantileSketch(
      df: DataFrame, value: Column, probes: Seq[Double],
      b: Int = 1024): DataFrame = {
    require(b >= 2 && b <= 65536, "grid width out of range")
    val v = df.select(value.cast("double").as("v")).where(col("v").isNotNull)
    graft.dedup.Dedup.withScopedPersist(v) {
      val mm = v.agg(
        min("v").as("lo"), max("v").as("hi"), count(lit(1)).as("n"))
      quantileFromGrid(quantileGridCounts(v, mm, b), mm, probes, b)
    }
  }

  /**
   * GROUPED fixed-grid quantile sketch — per-key quantiles at constant
   * state per key (the telemetry "p50/p95/p99 per metric" op). Same
   * two-pass grid construction as `quantileSketch`, with every stage
   * keyed: per-key min/max/count (one hash aggregation, keys-sized),
   * broadcast back for bucket assignment, per-(key, bucket) counts
   * (mergeable by `+`, ≤ b rows per key), a per-key running sum, and
   * rank selection. All shuffles are key-grain; the cumulative window
   * partitions by key so no global sort exists anywhere. Exactness
   * contract matches the global sketch: integer ranks,
   * identical-operand edge arithmetic, full value oracle.
   *
   * Output per (key, probe): (key, p, rank, bucket, est).
   */
  def groupedQuantileSketch(
      df: DataFrame, keyCol: String, value: Column, probes: Seq[Double],
      b: Int = 1024): DataFrame = {
    val v = df.select(col(keyCol).as("k"), value.cast("double").as("v"))
      .where(col("v").isNotNull)
    graft.dedup.Dedup.withScopedPersist(v) {
      groupedQuantilePlan(v, probes, b)
    }
  }

  /** The un-checkpointed grouped-quantile plan over a normalized
   *  (k, v) frame — split out so plan-shape guards can inspect the
   *  REAL operator tree (the public method's scoped persist
   *  checkpoints the result, hiding it).
   */
  private[graft] def groupedQuantilePlan(
      v: DataFrame, probes: Seq[Double], b: Int): DataFrame = {
    require(b >= 2 && b <= 65536, "grid width out of range")
    val mm = v.groupBy("k").agg(
      min("v").as("lo"), max("v").as("hi"), count(lit(1)).as("n"))
    val cum = v.join(broadcast(mm), "k")
      .select(
        col("k"),
        when(col("hi") === col("lo"), lit(0))
          .otherwise(least(
            lit(b - 1),
            floor((col("v") - col("lo")) / (col("hi") - col("lo")) * b)
              .cast("int")))
          .as("bucket"))
      .groupBy("k", "bucket").agg(count(lit(1)).as("cnt"))
      .withColumn("cum",
        sum("cnt").over(org.apache.spark.sql.expressions.Window
          .partitionBy("k").orderBy("bucket")
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
    val pr = broadcast(
      v.sparkSession.createDataFrame(probes.map(Tuple1(_))).toDF("p"))
    mm.crossJoin(pr)
      .withColumn("rank", greatest(lit(1L), ceil(col("p") * col("n")).cast("long")))
      .join(cum, Seq("k"))
      .where(col("cum") >= col("rank"))
      .groupBy("k", "p", "rank", "lo", "hi")
      .agg(min("bucket").as("bucket"))
      .select(
        col("k"), col("p"), col("rank"),
        col("bucket").cast("long").as("bucket"),
        round(col("lo") + col("bucket") * (col("hi") - col("lo")) / b, 6).as("est"))
  }

  /** The matching DuckDB oracle for `quantileSketch` over `valueExpr`
   *  of `table`.
   */
  def quantileOracleSql(
      table: String, valueExpr: String, probes: Seq[Double],
      b: Int = 1024): String = {
    val probeList = probes.mkString(", ")
    s"""WITH v AS (
       |  SELECT CAST($valueExpr AS DOUBLE) AS v FROM $table
       |  WHERE $valueExpr IS NOT NULL),
       |mm AS (SELECT min(v) AS lo, max(v) AS hi, count(*) AS n FROM v),
       |bk AS (
       |  SELECT CASE WHEN mm.hi = mm.lo THEN 0
       |    ELSE least(${b - 1},
       |      CAST(floor((v.v - mm.lo) / (mm.hi - mm.lo) * $b) AS INTEGER))
       |    END AS bucket
       |  FROM v, mm),
       |bc AS (SELECT bucket, count(*) AS cnt FROM bk GROUP BY 1),
       |cum AS (
       |  SELECT bucket, sum(cnt) OVER (ORDER BY bucket
       |    ROWS UNBOUNDED PRECEDING) AS cum
       |  FROM bc),
       |pr AS (SELECT CAST(unnest([$probeList]) AS DOUBLE) AS p),
       |r AS (
       |  SELECT pr.p, greatest(1, CAST(ceil(pr.p * mm.n) AS BIGINT)) AS rank,
       |    mm.lo, mm.hi
       |  FROM pr, mm),
       |sel AS (
       |  SELECT r.p, r.rank, r.lo, r.hi, min(cum.bucket) AS bucket
       |  FROM r JOIN cum ON cum.cum >= r.rank
       |  GROUP BY 1, 2, 3, 4)
       |SELECT p, rank, CAST(bucket AS BIGINT) AS bucket,
       |  round(lo + bucket * (hi - lo) / $b, 6) AS est
       |FROM sel ORDER BY p""".stripMargin
  }

  /** The matching DuckDB oracle for `groupedQuantileSketch` —
   *  generated from the same constants as the engine path.
   */
  def groupedQuantileOracleSql(
      table: String, keyExpr: String, valueExpr: String, probes: Seq[Double],
      b: Int = 1024, where: String = "TRUE"): String = {
    val probeList = probes.mkString(", ")
    s"""WITH v AS (
       |  SELECT $keyExpr AS k, CAST($valueExpr AS DOUBLE) AS v FROM $table
       |  WHERE $valueExpr IS NOT NULL AND ($where)),
       |mm AS (SELECT k, min(v) AS lo, max(v) AS hi, count(*) AS n
       |       FROM v GROUP BY 1),
       |bk AS (
       |  SELECT v.k, CASE WHEN mm.hi = mm.lo THEN 0
       |    ELSE least(${b - 1},
       |      CAST(floor((v.v - mm.lo) / (mm.hi - mm.lo) * $b) AS INTEGER))
       |    END AS bucket
       |  FROM v JOIN mm USING (k)),
       |bc AS (SELECT k, bucket, count(*) AS cnt FROM bk GROUP BY 1, 2),
       |cum AS (
       |  SELECT k, bucket, sum(cnt) OVER (PARTITION BY k ORDER BY bucket
       |    ROWS UNBOUNDED PRECEDING) AS cum
       |  FROM bc),
       |pr AS (SELECT CAST(unnest([$probeList]) AS DOUBLE) AS p),
       |r AS (
       |  SELECT mm.k, pr.p, greatest(1, CAST(ceil(pr.p * mm.n) AS BIGINT)) AS rank,
       |    mm.lo, mm.hi
       |  FROM pr, mm),
       |sel AS (
       |  SELECT r.k, r.p, r.rank, r.lo, r.hi, min(cum.bucket) AS bucket
       |  FROM r JOIN cum ON cum.k = r.k AND cum.cum >= r.rank
       |  GROUP BY 1, 2, 3, 4, 5)
       |SELECT k, p, rank, CAST(bucket AS BIGINT) AS bucket,
       |  round(lo + bucket * (hi - lo) / $b, 6) AS est
       |FROM sel ORDER BY k, p""".stripMargin
  }

  /** The matching DuckDB oracle for `hllReport` over `keyExpr` of
   *  `table` — generated from the SAME constants so engine and oracle
   *  cannot drift.
   */
  def hllOracleSql(table: String, keyExpr: String, p: Int = 10): String = {
    val m = 1 << p
    val width = 60 - p
    val bitlen = (0 until width)
      .map(k => s"CASE WHEN rem >= ${1L << k} THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""WITH h AS (
       |  SELECT ('0x' || substr(md5(CAST($keyExpr AS VARCHAR)), 1, 15))::BIGINT AS h
       |  FROM $table),
       |b AS (SELECT h & ${m - 1} AS bucket, h >> $p AS rem FROM h),
       |r AS (SELECT bucket, least(${width + 1} - ($bitlen), 50) AS rank FROM b),
       |regs AS (SELECT bucket, max(rank) AS m_rank FROM r GROUP BY 1),
       |agg AS (
       |  SELECT count(*) AS seen,
       |    sum((1::BIGINT << (50 - m_rank))::BIGINT)::BIGINT AS t_obs
       |  FROM regs),
       |exact AS (SELECT count(DISTINCT $keyExpr) AS n_exact FROM $table),
       |s AS (
       |  SELECT $m - seen AS v_zero,
       |    coalesce(t_obs, 0) + ($m - seen) * (1::BIGINT << 50) AS t_sum, n_exact
       |  FROM agg, exact),
       |e AS (
       |  SELECT v_zero, t_sum, n_exact,
       |    0.7213::DOUBLE / (1.0::DOUBLE + 1.079::DOUBLE / ${m.toDouble}::DOUBLE)
       |      * ${m.toDouble}::DOUBLE * ${m.toDouble}::DOUBLE *
       |      ${(1L << 50).toDouble} / t_sum AS raw
       |  FROM s)
       |SELECT CAST($m AS BIGINT) AS m, v_zero, t_sum,
       |  round(CASE WHEN v_zero > 0 AND raw <= ${2.5 * m}::DOUBLE
       |        THEN ${m.toDouble}::DOUBLE * ln(${m.toDouble}::DOUBLE / v_zero)
       |        ELSE raw END, 6) AS est,
       |  n_exact
       |FROM e""".stripMargin
  }
}
