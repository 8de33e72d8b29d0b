package graft

/** The numeric and on/off SPARK_GRAFT_* settings, parsed in one place: a
  * malformed value fails with an error naming the variable and the value,
  * not a bare `NumberFormatException`. Readers take the environment as a
  * parameter so a spec can pass its own. */
object GraftEnv {
  type Env = collection.Map[String, String]

  private def read[T](env: Env, name: String, default: T)(parse: String => T): T =
    env.get(name).fold(default) { raw =>
      try parse(raw)
      catch { case e: NumberFormatException =>
        throw new IllegalArgumentException(s"""$name="$raw" is not a valid value (${e.getMessage})""", e)
      }
    }

  /** SPARK_GRAFT_CPUS: the `local[n]` thread count, a positive integer. */
  def cpus(default: Int, env: Env = sys.env): String =
    read(env, "SPARK_GRAFT_CPUS", default) { s =>
      val n = s.toInt
      if (n < 1) throw new NumberFormatException("must be at least 1")
      n
    }.toString

  /** SPARK_GRAFT_BENCH_RUNS: timed samples per query in [[Bench]], at least 1. */
  def benchRuns(env: Env = sys.env): Int =
    math.max(1, read(env, "SPARK_GRAFT_BENCH_RUNS", 3)(_.toInt))

  /** SPARK_GRAFT_PPJOIN_BUDGET, integer or scientific notation (2e8); 0
    * disarms. DEFAULT ARMED at the sweep scripts' measured calibration (2e8
    * candidate rows — honest corpora bound 13.9 M/47.4 M at 500 k/sf1, the
    * saturated-vocabulary GC-death regime measured 492 M), so the guard
    * stays exercised on every Verify/Bench run instead of rotting sweep-only. */
  def ppjoinBudget(env: Env = sys.env): Long =
    read(env, "SPARK_GRAFT_PPJOIN_BUDGET", 200000000L)(_.trim.toDouble.toLong)

  /** SPARK_GRAFT_CC_LOCAL_EDGES: the edge budget of
    * `DedupOps.connectedComponents`' driver union-find fast path (0 disarms). */
  def ccLocalEdges(env: Env = sys.env): Long =
    read(env, "SPARK_GRAFT_CC_LOCAL_EDGES", 2000000L)(_.trim.toLong)

  /** SPARK_GRAFT_NO_COALESCE: unset, or 1 to make [[Verify]] write each
    * query's partitions as they are instead of one file. */
  def noCoalesce(env: Env = sys.env): Boolean =
    read(env, "SPARK_GRAFT_NO_COALESCE", false) { s =>
      if (s != "1") throw new NumberFormatException("set it to 1 or leave it unset")
      true
    }

  /** Parses the settings queries read while they are built, so a malformed
    * one stops a main before its first query. */
  def check(env: Env = sys.env): Unit = { ppjoinBudget(env); ccLocalEdges(env) }
}
