package graft.operators

import org.apache.spark.sql.{Column, DataFrame, ExpressionBridge}
import org.apache.spark.sql.catalyst.expressions.ShiftRight
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType}

/** Mergeable cardinality sketches (Flajolet et al. 2007 HyperLogLog)
  * with a DETERMINISTIC hash, so the sketch itself is oracle-checkable
  * — unlike `approx_count_distinct`, whose HLL++ registers depend on
  * engine internals. At 100 TB this is how you count distinct URLs per
  * host/day without a distinct shuffle: registers are m rows per
  * group, merge = max per bucket (associative/commutative — partial
  * aggregation and cross-dump union both apply), and the estimate
  * reads registers only.
  *
  * Layout: m = 256 buckets. h = md5(key); bucket = first 2 hex digits
  * (8 bits); rho = leading-zero count of the next 56 bits + 1,
  * computed by STRING arithmetic on the hex form (4 bits per leading
  * '0' char + the first non-zero digit's own leading zeros) so both
  * engines evaluate the identical integer — no float anywhere until
  * the final estimate.
  */
object Sketches {

  val M = 256

  /** (bucket, rho) columns for one key expression. */
  def hllBucketCol(key: Column): Column =
    conv(substring(md5(key), 1, 2), 16, 10).cast(LongType)

  def hllRhoCol(key: Column): Column = {
    val rest = substring(md5(key), 3, 14)
    val z = length(regexp_extract(rest, "^0*", 0))
    // first non-zero hex digit's value (1..15); its own leading zeros
    // within 4 bits: 8-15 -> 0, 4-7 -> 1, 2-3 -> 2, 1 -> 3
    val d = conv(rest.substr(z + 1, lit(1)), 16, 10).cast(LongType)
    when(z === 14, lit(57L)).otherwise(
      lit(4L) * z +
        when(d >= 8, 0L).when(d >= 4, 1L).when(d >= 2, 2L).otherwise(3L) +
        1L)
  }

  /** Build registers per group: (groupCols*, bucket, r). Only occupied
    * buckets appear (missing bucket == register 0). ONE partial-agg
    * groupBy — the corpus never shuffles raw keys, only (group,
    * bucket, max-rho) partials.
    */
  def hllRegisters(df: DataFrame, keyCol: String,
                   groupCols: Seq[String] = Nil): DataFrame = {
    val base = df.select(
      groupCols.map(col) ++ Seq(
        hllBucketCol(col(keyCol)).as("bucket"),
        hllRhoCol(col(keyCol)).as("rho")): _*)
    base.groupBy((groupCols :+ "bucket").map(col): _*)
      .agg(max("rho").as("r"))
  }

  /** Merge register sets (same layout): max per (group, bucket).
    * Associative and commutative — the cross-dump/cross-partition
    * combine.
    */
  def hllMerge(regs: DataFrame*): DataFrame = {
    require(regs.nonEmpty)
    val groupCols = regs.head.columns.filterNot(Set("r"))
    regs.reduce(_.unionByName(_))
      .groupBy(groupCols.map(col): _*)
      .agg(max("r").as("r"))
  }

  // ---- count-min sketch (Cormode & Muthukrishnan 2005) ----

  /** Count-min parameters: `depth` independent hash rows ×
    * `width` buckets. Hash j of a key = first 2 hex digits of
    * md5(j || ':' || key) mod width — deterministic, so sketch
    * contents are oracle-checkable.
    */
  val CmsDepth = 4
  val CmsWidth = 64

  private def cmsBucket(j: Int, key: Column): Column =
    pmod(conv(substring(md5(concat(lit(s"$j:"), key)), 1, 2), 16, 10)
      .cast(LongType), lit(CmsWidth.toLong))

  /** Build the counter table: (j, bucket, cnt) — depth·width rows max,
    * regardless of input size. One explode by depth (constant factor)
    * + one partial-agg groupBy; counters are exact Longs, merge of two
    * sketches = sum per (j, bucket).
    */
  def cmsBuild(df: DataFrame, keyCol: String,
               weightCol: Option[String] = None): DataFrame = {
    val wc = weightCol.map(col(_).cast(LongType)).getOrElse(lit(1L))
    // ONE input scan: the depth rows explode from an inline array (a
    // per-depth union would re-read the corpus CmsDepth times)
    df.select(wc.as("w"), explode(array((0 until CmsDepth).map(j =>
        struct(lit(j).as("j"), cmsBucket(j, col(keyCol)).as("bucket")))
        .toIndexedSeq: _*)).as("c"))
      .groupBy(col("c.j").as("j"), col("c.bucket").as("bucket"))
      .agg(sum("w").as("cnt"))
  }

  /** Merge count-min sketches: sum per cell (the cross-partition /
    * cross-dump combine).
    */
  def cmsMerge(sketches: DataFrame*): DataFrame = {
    require(sketches.nonEmpty)
    sketches.reduce(_.unionByName(_))
      .groupBy("j", "bucket").agg(sum("cnt").as("cnt"))
  }

  /** Point-query a set of keys: estimated count = min over the depth
    * rows (never under the true count; over only on collisions). The
    * sketch is cell-scale — AQE broadcasts it into the probe join.
    */
  def cmsQuery(keys: DataFrame, keyCol: String,
               sketch: DataFrame): DataFrame = {
    val probes = keys.select(col(keyCol),
        explode(array((0 until CmsDepth).map(j =>
          struct(lit(j).as("j"), cmsBucket(j, col(keyCol)).as("bucket")))
          .toIndexedSeq: _*)).as("c"))
      .select(col(keyCol), col("c.j").as("j"), col("c.bucket").as("bucket"))
    // left join: a probe hashing into a never-incremented cell reads 0
    // (an inner join would silently take the min over fewer rows)
    probes.join(sketch, Seq("j", "bucket"), "left")
      .groupBy(keyCol)
      .agg(min(coalesce(col("cnt"), lit(0L))).as("est_cnt"))
  }

  // ---- Bloom filter (Bloom 1970) ----

  /** Bloom parameters for the fixture scale: m bits × k probes. At
    * production scale pick m from the expected seen-set cardinality
    * (~10 bits/key for 1% fp); the build below stays one partial-agg
    * distinct regardless.
    */
  val BloomBits = 4096
  val BloomK = 3

  /** Probe position j of a key = first 5 hex digits (20 bits) of
    * md5(j ':' key) mod m — deterministic (oracle-checkable), same
    * discipline as the CMS buckets.
    */
  def bloomPos(j: Int, key: Column, m: Int = BloomBits): Column =
    pmod(conv(substring(md5(concat(lit(s"$j:"), key)), 1, 5), 16, 10)
      .cast(LongType), lit(m.toLong))

  /** Set-bit positions of the filter over `df[keyCol]`: ONE scan +
    * partial-agg distinct of at most m rows. Mergeable by construction
    * (union-distinct = bitwise OR), so per-dump filters combine like
    * the other sketches.
    */
  def bloomBuild(df: DataFrame, keyCol: String, m: Int = BloomBits,
                 k: Int = BloomK): DataFrame =
    df.select(explode(array((0 until k).map(j =>
        bloomPos(j, col(keyCol), m)).toIndexedSeq: _*)).as("pos"))
      .distinct()

  /** The filter as packed words — model-scale state (m/64 longs; 512
    * bytes at the default m), the same legitimate driver-side scale as
    * the IVF/PQ centroids. At very large m swap the literal for a
    * broadcast variable inside a native Expression; the probe
    * arithmetic below is unchanged.
    */
  def bloomWords(bits: DataFrame, m: Int = BloomBits): Array[Long] = {
    val words = new Array[Long](m / 64)
    bits.collect().foreach { r =>
      val p = r.getLong(0)
      words((p / 64).toInt) |= 1L << (p % 64)
    }
    words
  }

  /** Pure-column membership probe: all k bit-tests are codegen'd
    * shift/mask arithmetic against the embedded word array — a map-only
    * scan, NO join. False positives possible, false negatives never.
    */
  def bloomMightContain(key: Column, words: Array[Long],
                        m: Int = BloomBits, k: Int = BloomK): Column = {
    val wlit = typedlit(words.toIndexedSeq)
    (0 until k).map { j =>
      val p = bloomPos(j, key, m)
      // bitwiseAND, not % 2: the arithmetic shift keeps the sign when
      // bit 63 is set, and a negative remainder would read as "absent"
      val word = element_at(wlit, (p / 64).cast("int") + 1)
      val bit = pmod(p, lit(64L)).cast("int")
      ExpressionBridge.column(ShiftRight(ExpressionBridge.expression(word),
        ExpressionBridge.expression(bit))).bitwiseAND(lit(1L)) === 1
    }.reduce(_ && _)
  }

  /** Seen-set anti join with a Bloom pre-filter — the 100 TB shape of
    * J2/U1: candidates that fail the (map-only) membership probe are
    * definitely new and BYPASS the shuffle join entirely; only the
    * `might` sliver pays the exact anti join against the seen table.
    * Result is EXACT (the join confirms every maybe), the filter only
    * moves rows off the expensive path. Returns the candidate frame
    * plus (might_seen, is_new).
    */
  def bloomSeenFlags(candidates: DataFrame, keyCol: String,
                     seen: DataFrame, seenKeyCol: String,
                     m: Int = BloomBits, k: Int = BloomK): DataFrame = {
    val seenKeys = seen.select(col(seenKeyCol).as(keyCol)).distinct()
    val words = bloomWords(bloomBuild(seenKeys, keyCol, m, k), m)
    val flagged = candidates.withColumn("might_seen",
      bloomMightContain(col(keyCol), words, m, k))
    val maybe = flagged.filter(col("might_seen"))
      .join(seenKeys.withColumn("__hit", lit(1)), Seq(keyCol), "left")
      .withColumn("is_new", col("__hit").isNull).drop("__hit")
    val sure = flagged.filter(!col("might_seen"))
      .withColumn("is_new", lit(true))
    maybe.unionByName(sure)
  }


  // ---- equi-width histogram quantile sketch ----

  /** Build a fixed-layout histogram over `valueCol`: bin =
    * min(floor(v / binWidth), nBins-1), counts exact Longs. ONE
    * partial-agg groupBy of at most nBins rows regardless of input —
    * the deterministic, oracle-checkable alternative to
    * approx_percentile (whose KLL internals no second engine can
    * replay), same pitch as the HLL registers. Merge = sum per bin.
    */
  def histBuild(df: DataFrame, valueCol: String, binWidth: Double,
                nBins: Int): DataFrame =
    df.select(least(floor(col(valueCol) / binWidth), lit(nBins - 1L))
        .cast(LongType).as("bin"))
      .groupBy("bin").agg(count(lit(1)).as("cnt"))

  /** Merge histograms of the same layout: sum per bin (associative /
    * commutative — the cross-dump combine).
    */
  def histMerge(hs: DataFrame*): DataFrame = {
    require(hs.nonEmpty)
    hs.reduce(_.unionByName(_)).groupBy("bin").agg(sum("cnt").as("cnt"))
  }

  /** Quantile estimates from a histogram: for each q (in permille),
    * the first bin whose cumulative count reaches ceil(N*q/1000);
    * the estimate is that bin's UPPER edge — error bounded by one
    * binWidth by construction. All-integer threshold arithmetic
    * (ceil as (N*q + 999) DIV 1000); the only float is the final
    * identical-literal edge multiply. The window runs over the
    * nBins-row histogram — sketch-scale, not data-scale.
    */
  def histQuantiles(hist: DataFrame, qPermille: Seq[Int],
                    binWidth: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy("bin")
      .rowsBetween(Window.unboundedPreceding, 0)
    val cum = hist.withColumn("cum", sum("cnt").over(w))
    val total = hist.agg(sum("cnt").as("n"))
    val spark = hist.sparkSession
    import spark.implicits._
    val qdf = qPermille.map(_.toLong).toDF("q_permille")
    qdf.crossJoin(total).crossJoin(cum)
      .filter(col("cum") >=
        expr("(n * q_permille + 999) DIV 1000"))
      .groupBy("q_permille")
      .agg(min("bin").as("bin"))
      .withColumn("est_hi", (col("bin") + 1) * lit(binWidth))
  }

  /** Estimate per group from registers. Float discipline for the
    * oracle: per-register terms 2^(57-r) are exact Longs, their group
    * sum is exact (Decimal on Spark, HUGEINT in DuckDB), and the only
    * float math is the final alpha·m²·2^57 / sum expression written
    * with the same literals on both sides. Small-range (linear
    * counting) correction per the paper, its ln rounded to 6dp before
    * use.
    */
  def hllEstimate(registers: DataFrame,
                  groupCols: Seq[String] = Nil): DataFrame = {
    val grouped =
      if (groupCols.isEmpty) registers.groupBy()
      else registers.groupBy(groupCols.map(col): _*)
    val agg = grouped.agg(
      count(lit(1)).as("n_present"),
      sum(expr("shiftleft(CAST(1 AS BIGINT), CAST(57 - r AS INT))")
        .cast(DecimalType(38, 0))).as("sp"))
    val zeros = (lit(M.toLong) - col("n_present")).cast(LongType)
    val pow57 = 144115188075855872.0 // 2^57, exact double
    // coalesce: an all-empty register set sums to null; treating it as
    // 0 lets the zeros term carry the whole (linear-counting) estimate
    val sumPow = coalesce(col("sp"), lit(0)).cast("double") +
      zeros.cast("double") * lit(pow57)
    val alpha = lit(0.7213) / (lit(1.0) + lit(1.079) / lit(256.0))
    val raw = alpha * lit(65536.0) * lit(pow57) / sumPow
    val small = lit(256.0) *
      round(log(lit(256.0) / zeros.cast("double")), 6)
    agg.select(
      groupCols.map(col) ++ Seq(
        zeros.as("zeros"),
        round(when(raw <= 640.0 && zeros > 0, small).otherwise(raw), 4)
          .as("est")): _*)
  }

  // --- KMV (bottom-k) distinct-value sketch ------------------------

  /** 60-bit deterministic hash: first 15 md5 hex digits, exact BIGINT
    * on both engines (16 digits would overflow DuckDB's 0x cast).
    */
  def kmvHashCol(key: Column): Column =
    conv(substring(md5(key), 1, 15), 16, 10).cast(LongType)

  /** Typed bottom-k Aggregator: state is at most 4k longs between
    * trims, merge = concat + trim — the sketch is its own partial
    * aggregate, so `groupBy(...).agg(kmv)` gets map-side combine and
    * no window ever partitions a whole group onto one task. Any
    * arrival order yields the same k smallest distinct hashes.
    */
  final class BottomKAgg(k: Int)
      extends org.apache.spark.sql.expressions.Aggregator[
        Long, Seq[Long], Seq[Long]] {
    private def trim(b: Seq[Long]): Seq[Long] = b.distinct.sorted.take(k)
    override def zero: Seq[Long] = Vector.empty
    override def reduce(b: Seq[Long], h: Long): Seq[Long] = {
      val nb = b :+ h
      if (nb.length >= 4 * k) trim(nb) else nb
    }
    override def merge(a: Seq[Long], b: Seq[Long]): Seq[Long] =
      trim(a ++ b)
    override def finish(b: Seq[Long]): Seq[Long] = trim(b)
    override def bufferEncoder: org.apache.spark.sql.Encoder[Seq[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
    override def outputEncoder: org.apache.spark.sql.Encoder[Seq[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
  }

  /** KMV sketch per group: the k smallest distinct 60-bit hashes of
    * `keyCol`, ascending, as one array column `kmv`. k longs of state
    * per group — the cross-dump set-algebra sketch HLL cannot be:
    * union, intersection, Jaccard and containment all estimate from
    * two sketches alone (Beyer et al. 2007 / the theta-sketch family),
    * answering "how much of dump B did dump A already cover" without
    * ever joining the raw key sets.
    */
  def kmvSketch(df: DataFrame, keyCol: String, k: Int,
                groupCols: String*): DataFrame = {
    val kmv = udaf(new BottomKAgg(k),
      org.apache.spark.sql.Encoders.scalaLong)
    df.groupBy(groupCols.map(col): _*)
      .agg(kmv(kmvHashCol(col(keyCol))).as("kmv"))
  }

  private val Pow60 = 1152921504606846976.0 // 2^60, exact double

  /** All-pairs overlap estimates from the sketches alone: for each
    * group pair (g_a < g_b) the KMV union / Jaccard / intersection
    * estimators over the combined bottom-k. The pair join is
    * sketch-table-scale (one row per group), never data-scale.
    * When the combined sketch holds fewer than k distinct hashes the
    * sketches saw their whole sets and the estimate is exact by
    * construction.
    */
  def kmvOverlap(sketches: DataFrame, groupCol: String,
                 k: Int): DataFrame = {
    val a = sketches.select(col(groupCol).as("g_a"), col("kmv").as("__ka"))
    val b = sketches.select(col(groupCol).as("g_b"), col("kmv").as("__kb"))
    val kd = lit((k - 1).toDouble)
    a.join(b, col("g_a") < col("g_b"))
      .withColumn("__comb",
        slice(array_sort(array_union(col("__ka"), col("__kb"))), 1, k))
      .withColumn("__nc", size(col("__comb")))
      // get(): 0-based, null out of bounds — never evaluated when
      // __nc < k thanks to the conditional below
      .withColumn("__hk", get(col("__comb"), lit(k - 1)))
      .withColumn("__cnt", size(array_intersect(
        array_intersect(col("__comb"), col("__ka")), col("__kb"))))
      .withColumn("__u",
        when(col("__nc") < k, col("__nc").cast("double"))
          .otherwise(kd * lit(Pow60) / col("__hk").cast("double")))
      .withColumn("__j", col("__cnt").cast("double") /
        least(lit(k), col("__nc")).cast("double"))
      .select(col("g_a"), col("g_b"),
        round(col("__u"), 6).as("est_union"),
        round(col("__j"), 6).as("est_jaccard"),
        round(col("__j") * col("__u"), 6).as("est_intersection"))
  }
}
