package graft.synth

import java.sql.Timestamp
import org.apache.spark.sql.{Dataset, SparkSession}
import graft.core.Transcript

/** Deterministic synthetic transcript generator (FIXTURES.md F1).
  *
  * The per-conversation stream is seeded with `mix(seed, convIdx)` so the
  * generated rows are identical regardless of partitioning or parallelism —
  * the property the exact-match and scaling gates rely on. A configurable
  * head of "hot" conversations gets `hotFactor`× the turns, to exercise the
  * skew-handling paths demanded by the north rule.
  *
  * Row shape per BASELINE.json `input_hint`:
  * (conv_id string, turn_idx int, role string, text string, tool string,
  * ts timestamp). Gaps (idle spans ≫ grid step) and bursts are injected so
  * gap-fill has real work to do.
  */
object Transcripts {

  private val Roles = Array("user", "assistant", "tool")
  private val Tools = Array("search", "code", "browse", "calc", "sql")
  private val Vocab: Array[String] =
    ("the a of to and in for with on by query plan scan join shuffle " +
      "partition broadcast agg window series lag fft rollup chunk value " +
      "turn token stream batch state key time data").split(" ")

  /** splitmix64-style stable mixer — deterministic per (seed, conv). */
  private def mix(seed: Long, i: Long): Long = {
    var z = seed + 0x9e3779b97f4a7c15L * (i + 1)
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  def convId(i: Long): String = f"conv-$i%06d"

  /** Generate one conversation's turns (pure function of seed + index). */
  def genConv(
      seed: Long,
      idx: Long,
      baseTurns: Int,
      hotConvs: Int,
      hotFactor: Int,
      startEpochSec: Long
  ): Iterator[Transcript] = {
    val rng = new java.util.Random(mix(seed, idx))
    val nTurns = {
      val base = baseTurns / 2 + rng.nextInt(baseTurns)
      if (idx < hotConvs) base * hotFactor else base
    }
    val cid = convId(idx)
    // conversations start staggered over the first day
    var tSec = startEpochSec + (mix(seed, idx) >>> 16) % 86400
    var turn = 0
    new Iterator[Transcript] {
      def hasNext: Boolean = turn < nTurns
      def next(): Transcript = {
        val role = Roles(turn % 3)
        val tool = if (role == "tool") Tools(rng.nextInt(Tools.length)) else null
        val nWords = 3 + rng.nextInt(40)
        val sb = new StringBuilder
        var w = 0
        while (w < nWords) {
          if (w > 0) sb.append(' ')
          sb.append(Vocab(rng.nextInt(Vocab.length)))
          w += 1
        }
        val t = new Transcript(cid, turn, role, sb.toString, tool, new Timestamp(tSec * 1000))
        // advance time: mostly short gaps, occasionally a long idle span
        // (> the 60 s tier-0 grid step) so gap-fill is exercised
        val gap = rng.nextInt(100) match {
          case g if g < 70 => 1 + rng.nextInt(30)          // seconds
          case g if g < 92 => 30 + rng.nextInt(120)        // up to 2.5 min
          case _           => 600 + rng.nextInt(3600)      // long idle
        }
        tSec += gap
        turn += 1
        t
      }
    }
  }

  /** Distributed generation. `spark.range` slices are contiguous, so a
    * naive mapping would put every hot conversation (ids < hotConvs) into
    * task 0 — one task would own hotFactor× the work. We spread them with a
    * bijective index permutation i → (i·P) mod n (P coprime to n), which
    * keeps the generated SET identical (partitioning-independence is
    * asserted in PipelineSpec) while balancing per-task cost — the same
    * salting idea the north rule demands for hot conv_id keys.
    */
  def generate(
      spark: SparkSession,
      nConvs: Int,
      baseTurns: Int = 100,
      hotConvs: Int = 0,
      hotFactor: Int = 100,
      seed: Long = 42L,
      startEpochSec: Long = 1704067200L // 2024-01-01T00:00:00Z
  ): Dataset[Transcript] = {
    import spark.implicits._
    val p = coprimeStride(nConvs)
    spark
      .range(0, nConvs.toLong, 1)
      .flatMap(i => genConv(seed, (i * p) % nConvs, baseTurns, hotConvs, hotFactor, startEpochSec))
  }

  private def coprimeStride(n: Int): Long = {
    if (n <= 1) return 1L
    var p = 48271L % n
    if (p <= 1) p = 1L
    while (java.math.BigInteger.valueOf(p).gcd(java.math.BigInteger.valueOf(n)).intValue != 1)
      p += 1
    p
  }

  /** Driver-side generation for golden tests / the single-node reference. */
  def generateLocal(
      nConvs: Int,
      baseTurns: Int = 100,
      hotConvs: Int = 0,
      hotFactor: Int = 100,
      seed: Long = 42L,
      startEpochSec: Long = 1704067200L
  ): Seq[Transcript] =
    (0L until nConvs.toLong).flatMap(i =>
      genConv(seed, i, baseTurns, hotConvs, hotFactor, startEpochSec))
}
