package graft.functions

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, count, lit, sum}

/** One bucket-join family's guard settings: budget conf key, mode conf
  * key (`enforce` | `warn` | `off`), default budget, and the trip
  * counter (enforce + warn refusals, suite observability). */
private[graft] final case class GuardFamily(budgetKey: String,
    modeKey: String, defaultBudget: Long, trips: AtomicLong)

/** The candidate-mass pre-flight guard shared by every bucket-join
  * family (banded SimHash, fixed-nlist IVF, MinHash LSH, hyperplane
  * LSH, PPJoin prefix): filter-and-verify refuses a join whose candidate
  * mass would go quadratic BEFORE it runs.
  *
  * Budget parsing is centralized so a malformed value fails NAMED: a
  * bare `s.toLong` surfaces as a raw NumberFormatException with no hint
  * of which conf key carried the bad value, indistinguishable from a
  * genuine guard refusal (r18 ADVICE). */
private[graft] object GuardConf {
  /** Parse the long budget at `key` (default when unset/blank). A
    * malformed value throws IllegalArgumentException naming the key and
    * the offending text — never a bare NumberFormatException. */
  def budget(spark: SparkSession, key: String, default: Long): Long =
    spark.conf.get(key, "").trim match {
      case "" => default
      case s =>
        val v =
          try s.toLong
          catch {
            case _: NumberFormatException =>
              throw new IllegalArgumentException(
                s"$key must be a long candidate budget, got '$s'")
          }
        // a zero/negative budget would make every guarded operator refuse
        // unconditionally with a message blaming the corpus — fail NAMED
        // at the conf value instead (r19 ADVICE)
        require(v > 0, s"$key must be a positive candidate budget, got '$s'")
        v
    }

  /** Guard mode at `key`: `enforce` (default) | `warn` | `off`; any
    * other value fails named rather than silently enforcing. */
  def mode(spark: SparkSession, key: String): String = {
    val m = spark.conf.get(key, "enforce")
    require(m == "enforce" || m == "warn" || m == "off",
      s"$key must be one of enforce|warn|off, got '$m'")
    m
  }

  /** The pre-flight itself. `mode` is read ONCE by the caller (ADVICE
    * r20: a conf flip between plan-build and guard execution must not
    * let one call run half guarded).
    * With the mode `off` nothing runs — `bound` and `mass` are by-name,
    * so off pays zero jobs. Otherwise the budget is parsed first, then
    * the cheap worst-case `bound` short-circuits (the honest-corpus
    * steady state at every measured scale); only past it does the exact
    * `mass` decide. Over budget the family's trip counter counts it and
    * `refusal(mass, budget)` — the family's remedy text — is logged
    * (`warn`) or thrown as IllegalStateException (`enforce`). */
  def check(spark: SparkSession, family: GuardFamily, mode: String,
      bound: => Double, mass: => Long,
      refusal: (Long, Long) => String): Unit =
    if (mode != "off") {
      val budget = GuardConf.budget(spark, family.budgetKey,
        family.defaultBudget)
      if (bound > budget.toDouble) {
        val m = mass
        if (m > budget) {
          family.trips.incrementAndGet()
          val msg = refusal(m, budget) +
            s" Set ${family.modeKey}=warn to override."
          if (mode == "warn")
            org.slf4j.LoggerFactory.getLogger(getClass).warn(msg)
          else throw new IllegalStateException(msg)
        }
      }
    }

  /** EXACT candidate mass of a bucket self-join: Σ over buckets of
    * c·(c−1)/2, where a bucket is one distinct row of `keys` (grouped by
    * every column) and c its multiplicity — the raw pairs the join
    * materializes before its verify. One linear partial-aggregating
    * pass, vs the join it predicts. */
  def bucketPairMass(keys: DataFrame): Long =
    keys.groupBy(keys.columns.map(col): _*).agg(count(lit(1)).as("__c"))
      // c cast to double BEFORE the multiply: long c*(c-1) wraps
      // negative past ~3e9 rows in one bucket — silently under-reporting
      // the mass at exactly the scale the guard exists for
      .agg(coalesce(
        sum(col("__c").cast("double") * (col("__c") - 1) / 2), lit(0.0)))
      .head().getDouble(0).toLong
}

/** The candidate generator of the equi-bucket pair operators (MinHash
  * and SimHash banding, hyperplane LSH, the IVF lists): one guarded
  * self-join of a keyed table on its bucket columns. Each operator
  * builds its key table and keeps its own exact verify, dedup and
  * remedy text — the filter-verify split of REPOSE (ICDE'21). */
private[graft] object BucketSelfJoin {
  /** A family's guard: its settings, the mode its caller read once
    * before building anything, and its refusal text `(mass, budget)`. */
  final case class Guard(family: GuardFamily, mode: String,
      refusal: (Long, Long) => String)

  /** Every pair of distinct ids sharing a bucket of `keyed` (one row per
    * (`__id`, bucket), the bucket being the `keys` columns). Each
    * `payload` entry `(column, nameA, nameB)` rides along once per side.
    * The result holds the keys, `id_a` with the side-a payload and
    * `id_b` with the side-b payload, restricted to `id_a < id_b`; a pair
    * sharing several buckets appears once per shared bucket.
    *
    * With a `guard`, [[GuardConf.check]] runs first: the worst case —
    * every id in the same bucket for each of its `m` fan-outs (bands,
    * blocks or assignments), m·n(n−1)/2 — short-circuits, and only past
    * it does the exact [[GuardConf.bucketPairMass]] of the key columns
    * decide. `n` (the id count) is by-name and read at most once, so
    * mode `off` runs no job. */
  def apply(keyed: DataFrame, keys: Seq[String],
      payload: Seq[(String, String, String)], m: Int, n: => Long,
      guard: Option[Guard]): DataFrame = {
    guard.foreach { g =>
      lazy val ids = n
      GuardConf.check(keyed.sparkSession, g.family, g.mode,
        m.toDouble * ids * (ids - 1) / 2,
        GuardConf.bucketPairMass(keyed.select(keys.map(col): _*)),
        g.refusal)
    }
    def side(id: String, name: ((String, String, String)) => String) =
      keyed.select((col("__id").as(id) +:
        payload.map(p => col(p._1).as(name(p)))) ++ keys.map(col): _*)
    side("id_a", _._2).join(side("id_b", _._3), keys)
      .where(col("id_a") < col("id_b"))
  }
}
