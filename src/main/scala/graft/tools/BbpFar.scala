package graft.tools

import graft.ops.ComputeOps

/** Scale artifact runner for the BBP far path (the DistBbp/DistSum analog,
  * ComputeOps.piFractionAtFar): computes the four hex digits of pi at one
  * or more FAR offsets — past both near-path bounds (plain-double
  * accumulation ~1e8 and n^2 < Long.Max moduli ~3.8e8) — and
  * self-validates each with the overlap check (an independent summation at
  * offset d+2 must reproduce the shared digits; under any arithmetic error
  * agreement is a 1/256 coincidence per pair).
  *
  * Usage (env): SPARK_GRAFT_BBP_OFFSETS — comma list of offsets
  * (default "400000000,4294967296" = 4e8 and 2^32); SPARK_GRAFT_CPUS.
  * Emits ONE JSON line with per-offset digits, overlap verdicts, and
  * wall seconds. Wall-clock scales linearly in the offset (the series IS
  * the work: ~4·d modpows per digit position), which is the entire reason
  * the op distributes one digit's k-range across the cluster — the
  * measured per-term throughput here extrapolates directly to the
  * 1000-executor wall-clock for 2^40 quoted in the ComputeOps docs. */
object BbpFar {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSessions.local(graft.GraftEnv.cpus(32))
    val offsets = sys.env.getOrElse("SPARK_GRAFT_BBP_OFFSETS", "400000000,4294967296")
      .split(",").map(_.trim.toLong)
    val results = offsets.map { d =>
      val t0 = System.nanoTime()
      val a = ComputeOps.hexDigitsAtFar(spark, d)
      val b = ComputeOps.hexDigitsAtFar(spark, d + 2)
      val sec = (System.nanoTime() - t0) / 1e9
      val ok = a.substring(2) == b.substring(0, 2)
      require(ok, s"overlap mismatch at $d: $a vs $b")
      s""""$d": {"hex4": "$a", "hex4_at_plus2": "$b", "overlap_ok": $ok, """ +
        f""""pair_sec": $sec%.1f}"""
    }
    println(s"""{"metric":"bbp_far","offsets":{${results.mkString(",")}},""" +
      s""""near_path_bounds":{"double_accuracy":1.0e8,"long_modulus":3.8e8}}""")
    spark.stop()
  }
}
