package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

/** Skew mitigation for hot join keys (the 100 TB posture's manual
  * counterpart to AQE's skew-join split, for when a single key dwarfs a
  * partition): salt the probe side into `salts` sub-keys and replicate the
  * build side once per salt. Result is identical to the plain equi-join;
  * the hot key's rows spread over `salts` tasks.
  */
object Skew {

  /** The chunked-window helpers stage their bookkeeping in fixed `__`
    * columns and drop them on exit; a caller column with one of these
    * names would be silently overwritten and lost — fail loudly instead.
    */
  private val TempCols =
    Set("__ord", "__chunk", "__carry", "__cnt", "__off", "__lrn", "__rn", "__rchunk")
  private def requireNoTempCols(df: DataFrame): Unit = {
    val clash = df.columns.filter(TempCols)
    require(clash.isEmpty,
      s"input columns ${clash.mkString(", ")} collide with Skew's temp columns ($TempCols)")
  }

  /** Salted inner equi-join on `key`. `big` is the skewed probe side;
    * `small` (replicated ×salts) must be the dimension side.
    */
  def saltedJoin(big: DataFrame, small: DataFrame, key: String, salts: Int): DataFrame = {
    require(salts > 0)
    // deterministic scatter: hash of the whole row spreads a hot key's rows
    val bigSalted = big.withColumn("__salt",
      pmod(xxhash64(struct(big.columns.map(col): _*)), lit(salts)).cast("int"))
    val smallSalted = small.withColumn("__salt",
      explode(expr(s"sequence(0, ${salts - 1})")))
    bigSalted.join(smallSalted, Seq(key, "__salt")).drop("__salt")
  }

  /** Skew-safe trailing RANGE window — the window-family counterpart to
    * [[saltedJoin]]. A plain `Window.partitionBy(key)` cannot split a key
    * (every frame needs its whole partition), so one pathological key
    * serializes into one long task (SkewSpec's documented bound). For
    * VALUE-RANGE trailing frames the key CAN be split, exactly:
    *
    *  - chunk the order axis into spans of `W = window × chunkFactor`
    *    (`__chunk = floor(ord / W)`, integer floor-div via pmod so
    *    negative ords chunk correctly);
    *  - duplicate each chunk's trailing `window`-span rows (`ord mod W >=
    *    W - window`) into the NEXT chunk, flagged as carries;
    *  - run the same `rangeBetween(-window, 0)` frame partitioned by
    *    `(key…, __chunk)` — a row at ord `t` in chunk `c` has frame
    *    `[t-window, t]`, and every frame row from chunk `c-1` satisfies
    *    the carry predicate (`t-window ≥ c·W - window`), so it is present
    *    in `c` as a carry; carry rows older than the frame are excluded
    *    by the RANGE bound itself;
    *  - keep only non-carry rows.
    *
    * Result is row-for-row identical to the plain per-key window (pinned
    * by SkewSpec), but the hot key's rows spread over `span(ord)/W`
    * tasks instead of one. Cost: the carry duplication, a fraction
    * `1/chunkFactor` of the input — the recall-free analogue of salting.
    * Only trailing frames qualify (a FOLLOWING bound would need carries
    * from the next chunk too); aggregates must be order-insensitive over
    * the frame SET (sum/count/min/max — anything exact), which is also
    * what bit-reproducibility across the two plans requires.
    *
    * `aggs` receives the chunked WindowSpec and returns the named output
    * columns; all input columns pass through.
    */
  def rangeRolling(df: DataFrame, keys: Seq[String], ordCol: Column,
      window: Long, chunkFactor: Int = 4)(
      aggs: WindowSpec => Seq[(String, Column)]): DataFrame = {
    require(window > 0, s"window must be positive, got $window")
    // chunkFactor = 1 would be "correct" but the carry predicate
    // (pmod >= W - window = 0) goes always-true: every row duplicates and
    // cost doubles, contradicting the documented 1/chunkFactor fraction
    require(chunkFactor >= 2, s"chunkFactor must be >= 2, got $chunkFactor")
    requireNoTempCols(df)
    val w = window * chunkFactor
    val base = df.withColumn("__ord", ordCol)
    // exact floor division in long arithmetic: (ord - pmod(ord, W)) div W
    // (Column./ on longs is double division — lossy past 2^53; `div` is
    // the integral operator, and subtracting pmod first floors any sign)
    val chunkOf = expr(s"(__ord - pmod(__ord, ${w}L)) div ${w}L")
    val cur = base
      .withColumn("__chunk", chunkOf)
      .withColumn("__carry", lit(false))
    val carry = base
      .filter(pmod(col("__ord"), lit(w)) >= w - window)
      .withColumn("__chunk", chunkOf + 1)
      .withColumn("__carry", lit(true))
    val spec = Window
      .partitionBy(keys.map(col) :+ col("__chunk"): _*)
      .orderBy(col("__ord"))
      .rangeBetween(-window, 0)
    val rolled = aggs(spec).foldLeft(cur.unionByName(carry)) {
      case (acc, (name, c)) => acc.withColumn(name, c)
    }
    rolled.filter(!col("__carry")).drop("__ord", "__chunk", "__carry")
  }

  /** Skew-safe trailing ROWS window — the rows-frame counterpart to
    * [[rangeRolling]], closing the W1–W3 family's 100 TB stall: a plain
    * `rowsBetween(-window, 0)` serializes a hot key into one task, and
    * unlike the RANGE case the frame's reach in ord units is unbounded
    * (`window` rows of a SPARSE key can span arbitrarily many value
    * chunks), so rangeRolling's adjacent-chunk carry alone would be
    * wrong. Two phases fix that:
    *
    *  1. GLOBAL ROW NUMBERS without a per-key window (the distributed
    *     zipWithIndex shape): chunk the order axis by VALUE (`__chunk =
    *     floor(ord / chunkSpan)`), `row_number` locally within each
    *     (key…, chunk) — a bounded task — then aggregate ONE count row
    *     per (key…, chunk) (tiny: span/chunkSpan rows per key),
    *     exclusive-prefix-sum those counts with a window over that tiny
    *     frame (partitioned by key alone, but its input is the count
    *     rows, not the data), and join the offsets back on (key…, chunk):
    *     `rn = offset + local_rn`. No task ever holds more than one
    *     value-chunk of the hot key; the offsets join reuses the local
    *     window's (key…, chunk) exchange.
    *  2. ROW-CHUNK + CARRY — exactly [[rangeRolling]]'s trick replayed on
    *     the rn axis, where chunk occupancy is contiguous by
    *     construction: `__rchunk = (rn-1) div W` with `W = window ·
    *     chunkFactor`, duplicate each row-chunk's trailing `window` rows
    *     into the next (`(rn-1) mod W >= W - window`), run
    *     `rowsBetween(-window, 0)` partitioned by (key…, __rchunk)
    *     ordered by rn, keep non-carries. A row at rn = t has frame rns
    *     t-window..t, every one present in its row-chunk (carries cover
    *     the head), so the frame SET is identical to the plain window's —
    *     including the truncation at rn <= window, which row-chunk 0
    *     reproduces by having no carries.
    *
    * Requirements: `(ordCol, tieCols…)` must totally order rows within a
    * key (a tie makes the plain plan's frame membership nondeterministic
    * too); aggregates must be order-insensitive over the frame SET
    * (sum/count/min/max — anything exact). Result is row-for-row
    * identical to `Window.partitionBy(keys).orderBy(ordCol, tieCols…)
    * .rowsBetween(-window, 0)` (pinned by SkewSpec, including sparse
    * keys whose frames span many value chunks); the hot key spreads over
    * nRows/W tasks instead of one. Cost vs the plain plan: one extra
    * data shuffle (to __rchunk) plus the 1/chunkFactor carry
    * duplication. The callback's spec arrives framed `(-window, 0)`;
    * re-framing it to any SHORTER trailing reach (`spec.rowsBetween(-j,
    * 0)`, j <= window) is safe — the carries cover the deepest frame —
    * which lets one pass compute several window widths.
    */
  def rowsRolling(df: DataFrame, keys: Seq[String], ordCol: Column,
      tieCols: Seq[Column], window: Int, chunkSpan: Long, chunkFactor: Int = 4)(
      aggs: WindowSpec => Seq[(String, Column)]): DataFrame = {
    require(window > 0, s"window must be positive, got $window")
    require(chunkFactor >= 2, s"chunkFactor must be >= 2, got $chunkFactor")
    val withRn = globalRowNumber(df, keys, ordCol, tieCols, chunkSpan, "__rn")
    val w = window.toLong * chunkFactor
    val rchunkOf = expr(s"(__rn - 1) div ${w}L")
    val cur = withRn.withColumn("__rchunk", rchunkOf).withColumn("__carry", lit(false))
    val carry = withRn
      .filter(pmod(col("__rn") - 1, lit(w)) >= w - window)
      .withColumn("__rchunk", rchunkOf + 1)
      .withColumn("__carry", lit(true))
    val spec = Window
      .partitionBy(keys.map(col) :+ col("__rchunk"): _*)
      .orderBy(col("__rn"))
    val rolled = aggs(spec.rowsBetween(-window, 0)).foldLeft(cur.unionByName(carry)) {
      case (acc, (name, c)) => acc.withColumn(name, c)
    }
    rolled.filter(!col("__carry")).drop("__rn", "__rchunk", "__carry")
  }

  /** GLOBAL per-key row numbers (dense, 1-based, ordered by `(ordCol,
    * tieCols…)`) computed WITHOUT a per-key window — phase 1 of the
    * two-phase machinery exposed on its own, because it IS the W5
    * "position in genome" derivation at 100 TB posture: value-chunk the
    * order axis, `row_number` locally per (key…, chunk) (bounded tasks),
    * aggregate one count row per chunk, exclusive-prefix-sum the tiny
    * count frame, join the offsets back. `out` is LongType; the plain
    * `row_number()` it replaces is IntegerType — cast at the call site
    * if schema parity matters. `(ordCol, tieCols…)` must totally order
    * rows within a key.
    */
  def globalRowNumber(df: DataFrame, keys: Seq[String], ordCol: Column,
      tieCols: Seq[Column], chunkSpan: Long, out: String): DataFrame = {
    require(chunkSpan > 0, s"chunkSpan must be positive, got $chunkSpan")
    requireNoTempCols(df)
    require(!df.columns.contains(out), s"output column $out already exists")
    val keyCols = keys.map(col)
    val base = df.withColumn("__ord", ordCol)
    // same sign-safe integral floor division as rangeRolling
    val chunkOf = expr(s"(__ord - pmod(__ord, ${chunkSpan}L)) div ${chunkSpan}L")
    val withChunk = base.withColumn("__chunk", chunkOf)
    val ordering = col("__ord") +: tieCols
    // the offsets window partitions by key alone but runs over ONE ROW
    // PER CHUNK — the hot key contributes span/chunkSpan rows there,
    // not its data
    val offsets = withChunk
      .groupBy(keyCols :+ col("__chunk"): _*)
      .agg(count(lit(1)).as("__cnt"))
      .withColumn("__off",
        coalesce(
          sum(col("__cnt")).over(
            Window.partitionBy(keyCols: _*).orderBy(col("__chunk"))
              .rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .drop("__cnt")
    withChunk
      .withColumn("__lrn", row_number().over(
        Window.partitionBy(keyCols :+ col("__chunk"): _*).orderBy(ordering: _*)))
      .join(offsets, keys :+ "__chunk")
      .withColumn(out, col("__off") + col("__lrn"))
      .drop("__ord", "__chunk", "__lrn", "__off")
  }
}
