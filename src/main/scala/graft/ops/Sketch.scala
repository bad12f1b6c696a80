package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.GraftExtensions.registered

/** Mergeable summary sketches — the cardinality / frequency layer a 100 TB
  * corpus pipeline runs BEFORE it commits to exact work (how many distinct
  * urls? which tokens dominate?). Exact distinct/top-k at that scale means
  * a full shuffle of the key population; these operators bound the state to
  * kilobytes per partition and stay exact where it matters:
  *
  *  - [[hllRegisters]] is a HyperLogLog sketch (Flajolet et al. 2007) in
  *    the engine's cross-engine-verifiable hash domain (md5 hex — the
  *    discipline graft.ops.Sampling/Dedup established): the register table
  *    is a pure-INTEGER surface, so the sketch itself hash-oracles exactly
  *    in any SQL engine; only the final estimate is floating point.
  *  - [[heavyHitters]] follows the production sketch pattern: a mergeable
  *    Misra-Gries candidate pass (provably a superset of every item with
  *    frequency > N/k) feeds an EXACT second count pass over the bounded
  *    candidate set — output counts are exact, partitioning-independent,
  *    and the full-population groupBy never happens.
  *
  * Reference analog: the reference keeps no sketches (single-node xarray
  * needs none); these are the scale-native additions the builder prompt
  * requires alongside dedup/similarity.
  */
object Sketch {

  /** Register width: 12 hex digits = 48 bits of rho-range after the bucket
    * prefix. rho ∈ [1, 49]; 49 = "all 48 bits zero".
    */
  private val WHexDigits = 12

  /** HyperLogLog register table over `idCol`: one row per OCCUPIED bucket,
    * `(bucket, register)`, both integers — the mergeable sketch state
    * (merge = max per bucket, see [[foldRegisters]]; a partition-local
    * partial agg does the same max map-side, so the exchange carries at
    * most 2^p rows per partition regardless of input size).
    *
    * Hash domain: md5(id as string). bucket = first p/4 hex digits;
    * rho = 1 + (leading zero BITS of the next 12 hex digits), computed in
    * pure string/integer arithmetic — the leading-zero-hex-digit run via
    * regexp, the intra-digit bit count via an ASCII CASE ladder — so a SQL
    * oracle replays it verbatim (no float log2 whose rounding at exact
    * powers of two could differ per libm).
    *
    * NULL ids are excluded (a NULL hashes to no bucket; cardinality of
    * NULL is not a defined question here).
    *
    * @param p bucket-prefix bits; multiple of 4 in [4, 16] so the bucket is
    *          a whole hex-digit prefix (m = 2^p registers).
    */
  def hllRegisters(df: DataFrame, idCol: String, p: Int = 8): DataFrame =
    bucketRho(df, idCol, p, Nil)
      .groupBy(col("bucket"))
      .agg(max(col("rho")).as("register"))

  /** (passthrough keys..., bucket, rho) cells — the shared hash/rho
    * projection under [[hllRegisters]] and [[hllRegistersBy]].
    */
  private def bucketRho(df: DataFrame, idCol: String, p: Int,
      keyCols: Seq[String]): DataFrame = {
    require(p % 4 == 0 && p >= 4 && p <= 16, s"p must be a multiple of 4 in [4,16], got $p")
    val bHex = p / 4
    val h = s"md5(cast($idCol as string))"
    val whex = s"substr($h, ${bHex + 1}, $WHexDigits)"
    val z = s"length(regexp_extract($whex, '^(0*)', 1))"
    val d = s"substr($whex, $z + 1, 1)"
    val rho =
      s"""CASE WHEN $z = $WHexDigits THEN ${4 * WHexDigits + 1}
         | ELSE 4 * $z + (CASE WHEN $d >= '8' THEN 0 WHEN $d >= '4' THEN 1
         |                     WHEN $d >= '2' THEN 2 ELSE 3 END) + 1 END""".stripMargin
    registered(df).where(col(idCol).isNotNull)
      .select(keyCols.map(col) ++ Seq(
        expr(s"graft_md5int(cast($idCol as string), $bHex)").as("bucket"),
        expr(rho).cast("int").as("rho")): _*)
  }

  /** GROUPED register tables: one HLL sketch per distinct `keyCols` tuple
    * — the scale answer to COUNT(DISTINCT id) GROUP BY key. At 100 TB a
    * per-day exact distinct shuffles the whole id population every day;
    * this keeps ≤ 2^p integer rows per group, the groups are the natural
    * retention-tier unit, and folding day sketches to month/total is
    * [[foldRegisters]] — no revisit of raw data, unlike exact distinct
    * which cannot compose across tiers. Output: keyCols..., bucket,
    * register.
    */
  def hllRegistersBy(df: DataFrame, keyCols: Seq[String], idCol: String,
      p: Int = 8): DataFrame = {
    require(keyCols.nonEmpty, "keyCols must be non-empty (use hllRegisters)")
    bucketRho(df, idCol, p, keyCols)
      .groupBy((keyCols :+ "bucket").map(col): _*)
      .agg(max(col("rho")).as("register"))
  }

  /** Fold grouped register tables down to coarser keys (or to the total
    * sketch with `keyCols = Nil`): per-bucket max, the HLL merge.
    * foldRegisters(hllRegistersBy(df, day), Nil) ==
    * hllRegisters(df), exactly (spec + oracle-gated).
    */
  def foldRegisters(grouped: DataFrame, keyCols: Seq[String]): DataFrame =
    grouped.groupBy((keyCols :+ "bucket").map(col): _*)
      .agg(max(col("register")).as("register"))

  /** Equi-width histogram per `keyCols` tuple: non-empty bins of
    * `floor((v − lo) · nBins / (hi − lo))` clamped to [0, nBins−1] — the
    * mergeable quantile/distribution summary for retention tiers. Counts
    * are exact integers and the bin expression is ONE IEEE evaluation per
    * row on constants, so the table hashes identically in any engine; bins
    * compose EXACTLY across tiers by adding counts ([[histFold]]), the
    * property HLL registers have under max and Gorilla chunks lack
    * entirely. Output: keyCols..., bin, cnt (absent bins are zero).
    *
    * Scale shape: one map-side-combined groupBy; ≤ keys × nBins rows out.
    */
  def histByKey(df: DataFrame, keyCols: Seq[String], valCol: String,
      lo: Double, hi: Double, nBins: Int): DataFrame = {
    require(!keyCols.contains("bin") && !keyCols.contains("cnt"),
      "keyCols may not use the reserved names bin, cnt")
    val keys = keyCols.map(col)
    df.where(col(valCol).isNotNull)
      .groupBy(keys :+ binExpr(valCol, lo, hi, nBins).as("bin"): _*)
      .agg(count(lit(1)).as("cnt"))
  }

  /** The ONE histogram bin definition (used by [[histByKey]]):
    * `floor((v − lo) · nBins / (hi − lo))` clamped to
    * [0, nBins−1] — a single IEEE expression per row on constants.
    */
  private def binExpr(valCol: String, lo: Double, hi: Double, nBins: Int): Column = {
    require(nBins >= 1, s"nBins must be >= 1, got $nBins")
    require(hi > lo, s"need hi > lo, got [$lo, $hi]")
    least(lit(nBins - 1), greatest(lit(0),
      floor((col(valCol) - lit(lo)) * lit(nBins) / lit(hi - lo)).cast("int")))
  }

  /** Fold grouped histograms to coarser keys by summing bin counts — the
    * exact tier law: histFold(histByKey(df, day ++ ks), ks) ==
    * histByKey(df, ks) row-for-row (oracle-gated). */
  def histFold(hist: DataFrame, keyCols: Seq[String]): DataFrame =
    hist.groupBy((keyCols :+ "bin").map(col): _*)
      .agg(sum(col("cnt")).as("cnt"))

  /** Cardinality estimate from a register table: the standard bias-corrected
    * harmonic mean with the small-range (linear counting) correction.
    * Returns one row: (m, occupied, estimate). Absent buckets are empty
    * registers (contribute 2^0 to the harmonic sum). Expected relative
    * error ~1.04/sqrt(2^p) (≈6.5% at p=8).
    */
  def hllEstimate(registers: DataFrame, p: Int = 8): DataFrame = {
    require(p % 4 == 0 && p >= 4 && p <= 16, s"p must be a multiple of 4 in [4,16], got $p")
    val m = 1 << p
    val alpha = m match {
      case 16 => 0.673
      case 32 => 0.697
      case 64 => 0.709
      case _  => 0.7213 / (1.0 + 1.079 / m)
    }
    registers
      // coalesce: sum() over an EMPTY register table is NULL, which would
      // poison raw and the linear-counting guard — an empty sketch must
      // estimate 0 (occupied=0 -> v0=m -> m*ln(1) = 0), not NULL
      .agg(count(lit(1)).as("occupied"),
        coalesce(sum(expr("pow(0.5, register)")), lit(0.0)).as("sum_pow"))
      .select(
        lit(m).as("m"),
        col("occupied"),
        (lit(m) - col("occupied")).cast("double").as("v0"),
        (lit(alpha * m.toDouble * m) / (col("sum_pow") + (lit(m) - col("occupied")))).as("raw"))
      .withColumn("estimate",
        when(col("raw") <= lit(2.5 * m) && col("v0") > 0,
          lit(m.toDouble) * log(lit(m.toDouble) / col("v0")))
          .otherwise(col("raw")))
      .select(col("m"), col("occupied"), col("estimate"))
  }

  /** Exact counts of every item whose frequency strictly exceeds N/k —
    * found WITHOUT a full-population groupBy. Stage 1 runs a Misra-Gries
    * summary (k-1 counters) per partition: any item with global frequency
    * > N/k exceeds n_p/k in at least one partition (averaging argument)
    * and MG with k-1 counters provably retains every item above n_p/k —
    * so the union of partition summaries is a candidate SUPERSET, at most
    * (k-1) x numPartitions items. Stage 2 semi-joins the stream against the
    * broadcast candidate set and counts exactly; the final filter applies
    * the integer cross-multiplied threshold (n * k > N, no division).
    * Output is exact and partitioning-independent: (item, n, n_total).
    *
    * NULL items are excluded (they are not a frequency question; count
    * them upstream if NULL-rate matters).
    */
  def heavyHitters(df: DataFrame, itemCol: String, k: Int): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    val spark = df.sparkSession
    import spark.implicits._
    val items = df.select(col(itemCol).cast("string").as("item"))
      .where(col("item").isNotNull)
    val cands = items.as[String]
      .mapPartitions(it => misraGries(it, k))
      .toDF("item").distinct()
    val total = items.agg(count(lit(1)).as("n_total"))
    items.join(broadcast(cands), "item")
      .groupBy(col("item")).agg(count(lit(1)).as("n"))
      .crossJoin(broadcast(total))
      .where(col("n") * k > col("n_total"))
      .select(col("item"), col("n"), col("n_total"))
  }

  /** Column-index expression: first `hex` hex digits of md5(r:item). */
  private def hashCol(r: Int, itemExpr: String, hex: Int): String =
    // r6: fused digest+prefix kernel, bit-equal to
    // cast(conv(substr(md5(.), 1, hex), 16, 10) as int) (Md5NibblesSpec)
    s"graft_md5int(concat('$r', ':', $itemExpr), $hex)"

  /** (row, col) cells for one item across all d hashes, as ONE exploded
    * array — a single input scan regardless of d (a per-hash union would
    * rescan the source d times).
    */
  private def cellsExpr(d: Int, itemExpr: String, hex: Int): String =
    (0 until d).map(r =>
      s"struct($r as r, ${hashCol(r, itemExpr, hex)} as c)").mkString("array(", ", ", ")")

  /** Count-min sketch (Cormode & Muthukrishnan 2005): a d×w integer grid
    * where cell (r, c) counts every item whose r-th hash lands on column c
    * — point frequency estimates read min over the d rows, always an
    * OVERestimate, error ≤ e·N/w with probability 1 − e^(−d). The grid is
    * a pure-INTEGER mergeable surface (merge = per-cell SUM — unlike HLL's
    * max, CMS merges by addition) and the aggregation partial-combines
    * map-side, so the exchange carries ≤ d·w rows per partition no matter
    * the input size.
    *
    * Hash domain: row r uses md5(r || ':' || item); the column is the
    * first `wHex` hex digits as an integer — the same cross-engine-exact
    * discipline as [[hllRegisters]], so a SQL oracle replays the grid
    * verbatim. Only occupied cells are emitted (absent cell = 0).
    *
    * @param d rows (independent hashes), >= 1
    * @param wHex column-width in hex digits, in [1, 7] (w = 16^wHex)
    */
  def cmsCounts(df: DataFrame, itemCol: String, d: Int = 4, wHex: Int = 2): DataFrame = {
    require(d >= 1, s"d must be >= 1, got $d")
    require(wHex >= 1 && wHex <= 7, s"wHex must be in [1,7], got $wHex")
    registered(df).where(col(itemCol).isNotNull)
      .select(explode(expr(cellsExpr(d, s"cast($itemCol as string)", wHex))).as("__cell"))
      .groupBy(col("__cell.r").as("cms_row"), col("__cell.c").as("cms_col"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Bloom filter as a set-bit position table: k md5-derived hashes per
    * item into m = 16^mHex positions; the filter is the DISTINCT position
    * set — a pure-INTEGER mergeable surface (merge = union ∪ distinct) a
    * SQL oracle replays exactly. Positions partial-aggregate map-side
    * (distinct = groupBy), so the exchange is bounded by m regardless of
    * input size; the materialized filter is ≤ m rows ≈ k·n for sparse
    * fill. False-positive rate ≈ (1 − e^(−k·n/m))^k; no false negatives.
    */
  def bloomBits(df: DataFrame, itemCol: String, k: Int = 4, mHex: Int = 4): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(mHex >= 1 && mHex <= 7, s"mHex must be in [1,7], got $mHex")
    registered(df).where(col(itemCol).isNotNull)
      .select(explode(expr(cellsExpr(k, s"cast($itemCol as string)", mHex))).as("__cell"))
      .select(col("__cell.c").as("bit")).distinct()
  }

  /** Membership probe: true iff ALL k of the item's bits are set. The
    * filter broadcasts (≤ m integer rows); the probe is k broadcast
    * left-joins folded to a count — a shuffle-free semi-join prefilter,
    * the 100 TB use: drop the guaranteed-absent rows of a big fact scan
    * before the real (expensive) join. Output: (item, might_contain).
    */
  def bloomMightContain(bits: DataFrame, queries: DataFrame,
      k: Int = 4, mHex: Int = 4): DataFrame = {
    val cells = registered(queries)
      .select(col("item"),
        explode(expr(cellsExpr(k, "cast(item as string)", mHex))).as("__cell"))
      .select(col("item"), col("__cell.c").as("bit"))
    cells.join(broadcast(bits.withColumn("__set", lit(1))), Seq("bit"), "left")
      .groupBy(col("item"))
      .agg((count(lit(1)) === sum(coalesce(col("__set"), lit(0)))).as("might_contain"))
  }

  /** Misra-Gries with k-1 counters over one partition's items: returns the
    * surviving keys — guaranteed to include every item with partition
    * frequency > n_p/k. Decrement-all is O(counters) but amortized O(1)
    * per input item (each decrement consumes one prior increment).
    */
  private def misraGries(it: Iterator[String], k: Int): Iterator[String] = {
    val m = scala.collection.mutable.HashMap.empty[String, Long]
    while (it.hasNext) {
      val x = it.next()
      m.get(x) match {
        case Some(c) => m.update(x, c + 1L)
        case None if m.size < k - 1 => m.update(x, 1L)
        case None =>
          val dead = List.newBuilder[String]
          m.foreach { case (key, c) =>
            if (c == 1L) dead += key else m.update(key, c - 1L)
          }
          dead.result().foreach(m.remove)
      }
    }
    m.keysIterator
  }
}
