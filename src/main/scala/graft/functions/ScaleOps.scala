package graft.functions

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Partitioning strategies for the shapes that break at 100 TB: skewed
  * join keys and repeated co-located joins.
  */
object ScaleOps {

  /** [[zorderKey]] as a SQL fragment (for DuckDB oracles): the same
    * mask + shift/and/add structure over the given operand expressions,
    * so the Spark key and its oracle twin cannot drift. */
  def zorderKeySql(x: String, y: String, bits: Int = 16): String = {
    require(bits >= 1 && bits <= 31, "bits must be in [1, 31]")
    val mask = (1L << bits) - 1
    (0 until bits).map { i =>
      s"((((($x) & $mask) >> $i) & 1) << ${2 * i}) + " +
        s"((((($y) & $mask) >> $i) & 1) << ${2 * i + 1})"
    }.mkString("(", " + ", ")")
  }

  /** Salted equi-join for a skewed fact side: the fact's rows get a
    * deterministic salt in [0, saltFactor), the dimension side is
    * replicated saltFactor ways, and the join key becomes (key, salt) —
    * one hot key's rows now land on saltFactor reducers instead of one.
    *
    * AQE's skew-join splitting handles moderate skew automatically; this
    * is for the pathological case (a single key holding a double-digit
    * percentage of the table) where even one split is too large, at the
    * cost of replicating the dimension. Salt is derived from xxhash64 of
    * the whole row, so it is deterministic across retries (a rand()
    * salt breaks task-retry idempotence). */
  def saltedJoin(
      fact: DataFrame, dim: DataFrame, key: String,
      saltFactor: Int): DataFrame = {
    require(saltFactor > 0, "saltFactor must be positive")
    val salted = fact.withColumn("__salt",
      pmod(xxhash64(fact.columns.map(col): _*), lit(saltFactor)).cast("int"))
    val expanded = dim.withColumn("__salt",
      explode(sequence(lit(0), lit(saltFactor - 1))))
    salted.join(expanded, Seq(key, "__salt")).drop("__salt")
  }

  /** Salted two-level HOLISTIC aggregation — the spread for the one
    * skew class neither AQE nor partial aggregation can rescue (see
    * SCALING.md round-10): a collect-style aggregate on a hot key has
    * no map-side combine that shrinks it, so the whole key's value set
    * would land on one task. Level 1 groups by (key, salt-of-value) —
    * the hot key's values split across `saltFactor` tasks, each
    * collecting a bounded distinct slice; level 2 merges `saltFactor`
    * ARRAYS per key (bounded by construction), never the raw rows.
    * Value-derived salt keeps retries deterministic AND co-locates
    * duplicate values, so level-1 sets are already distinct slices. */
  def saltedDistinctList(df: DataFrame, keyCol: String, valCol: String,
      saltFactor: Int): DataFrame = {
    require(saltFactor > 0, "saltFactor must be positive")
    df.withColumn("__salt",
        pmod(xxhash64(col(valCol)), lit(saltFactor)).cast("int"))
      .groupBy(col(keyCol), col("__salt"))
      .agg(collect_set(col(valCol)).as("__part"))
      .groupBy(col(keyCol))
      .agg(array_sort(flatten(collect_list(col("__part")))).as("vals"))
  }

  /** Backward as-of join — for every left row, the single latest right
    * row with `right.ts <= left.ts` in the same key group (nulls when
    * none). Spark has no built-in as-of join; the naive form
    * (`l.key = r.key AND r.ts <= l.ts` + row_number) explodes
    * quadratically inside hot keys. This is the merge formulation:
    *
    *   union both sides (right first on ts ties, so at-or-before
    *   matches) → ONE shuffle on the key → running `last(payload,
    *   ignoreNulls)` window → keep left rows.
    *
    *   Cost is a sort within key groups — the plan you want at 100 TB,
    *   and the same shape Structured Streaming's state-ordered merge
    *   uses. `payload` names the right columns carried to the output
    *   (as `asof_<name>`). */
  def asofJoin(
      left: DataFrame, right: DataFrame, keyCol: String,
      leftTsCol: String, rightTsCol: String,
      payload: Seq[String],
      direction: String = "backward",
      toleranceSec: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(direction == "backward" || direction == "forward",
      s"direction must be backward|forward, got $direction")
    val forward = direction == "forward"
    // the matched row's own timestamp rides in the struct so a
    // tolerance bound can null out stale matches after the merge
    val pStruct = struct(
      (col(rightTsCol).as("__mts") +: payload.map(c => right(c))): _*)
    val r2 = right.select(
      col(keyCol).as("__k"), col(rightTsCol).as("__ts"), pStruct.as("__p"))
      .withColumn("__side", lit(0))
    val l2 = left
      .withColumn("__k", col(keyCol))
      .withColumn("__ts", col(leftTsCol))
      .withColumn("__side", lit(1))
    // union-by-name fills the sides' missing columns with nulls
    val all = l2.unionByName(r2, allowMissingColumns = true)
    // backward scans time ascending (running last = nearest at-or-
    // before); forward scans descending (running last = nearest at-or-
    // after). Either way right rows sort before left rows at equal ts
    // (__side 0 < 1) so an exactly-simultaneous right row matches, and
    // __p is the final tiebreak, making duplicate right timestamps
    // deterministic.
    val w = Window.partitionBy(col("__k"))
      .orderBy(
        (if (forward) Seq(col("__ts").desc, col("__side").asc, col("__p").desc)
         else Seq(col("__ts").asc, col("__side").asc, col("__p").asc)): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val merged = all.withColumn("__m", last(col("__p"), ignoreNulls = true).over(w))
      .where(col("__side") === 1)
    val matched = toleranceSec match {
      case None => merged
      case Some(tol) =>
        // the match is on the correct side of the left ts by
        // construction, so one signed bound suffices
        val mts = col("__m").getField("__mts")
        val ageMicros =
          if (forward) unix_micros(mts) - unix_micros(col("__ts"))
          else unix_micros(col("__ts")) - unix_micros(mts)
        merged.withColumn("__m",
          when(ageMicros <= tol * 1000000L, col("__m")))
    }
    payload.foldLeft(matched) { (df, c) =>
      df.withColumn(s"asof_$c", col("__m").getField(c))
    }.select(left.columns.map(col) ++ payload.map(c => col(s"asof_$c")): _*)
  }

  /** Interval (range) join — pairs `(l, r)` with the same key and
    * `r.ts` in `[l.ts, l.ts + windowSec]`. Spark plans a raw
    * `key-equal AND ts BETWEEN` condition as an equi-join whose range
    * predicate only filters AFTER materializing every same-key pair —
    * quadratic inside hot keys. Here both sides are bucketed into
    * `windowSec`-wide time bins and joined on (key, bin): each left row
    * probes its own bin and the next one (any match lies in one of the
    * two), so fan-out is bounded by bin population, not key population.
    * Output: all left columns plus `payload` right columns as
    * `match_<name>`. */
  def intervalJoin(
      left: DataFrame, right: DataFrame, keyCol: String,
      leftTsCol: String, rightTsCol: String, windowSec: Long,
      payload: Seq[String]): DataFrame = {
    val binL = (unix_micros(col(leftTsCol)) / lit(windowSec * 1000000L)).cast("long")
    val binR = (unix_micros(col(rightTsCol)) / lit(windowSec * 1000000L)).cast("long")
    val l2 = left
      .withColumn("__k", col(keyCol))
      .withColumn("__lts", col(leftTsCol))
      // a [ts, ts+window] interval spans at most two window-wide bins
      .withColumn("__bin", explode(array(binL, binL + 1)))
    val r2 = right.select(
      (col(keyCol).as("__k") +: col(rightTsCol).as("__rts") +: binR.as("__bin") +:
        payload.map(c => right(c).as(s"match_$c"))): _*)
    l2.join(r2, Seq("__k", "__bin"))
      .where(col("__rts") >= col("__lts") &&
        col("__rts") <= col("__lts") + expr(s"INTERVAL $windowSec SECOND"))
      .select(left.columns.map(col) ++ payload.map(c => col(s"match_$c")): _*)
  }

  /** Writes `df` as a bucketed+sorted catalog table: joins and
    * aggregations on `key` between tables bucketed the same way need no
    * shuffle (verified in ScaleOpsSuite by asserting the join plan has
    * zero Exchange nodes). This is the persisted-layout half of the
    * co-location story; `repartition` is the transient half. */
  def writeBucketed(
      df: DataFrame, table: String, key: String, buckets: Int): Unit =
    df.write.mode("overwrite")
      .bucketBy(buckets, key).sortBy(key)
      .format("parquet")
      .saveAsTable(table)

  /** True when the physical plan contains no shuffle exchange — the
    * property bucketed/co-partitioned plans are built to achieve. */
  def shuffleFree(df: DataFrame): Boolean =
    !df.queryExecution.executedPlan.toString.contains("Exchange")

  /** Morton (Z-order) key interleaving the low `bits` bits of two long
    * columns — pure shift/mask/add arithmetic, so it runs inside
    * whole-stage codegen and is bit-identical in any engine. Columns are
    * masked to `bits` first; 2*bits <= 62 keeps the key positive. */
  def zorderKey(a: Column, b: Column, bits: Int = 16): Column = {
    require(bits >= 1 && bits <= 31, "bits must be in [1, 31]")
    val mask = (1L << bits) - 1
    val am = a.bitwiseAND(mask)
    val bm = b.bitwiseAND(mask)
    (0 until bits).map { i =>
      shiftleft(shiftright(am, i).bitwiseAND(1), 2 * i) +
        shiftleft(shiftright(bm, i).bitwiseAND(1), 2 * i + 1)
    }.reduce(_ + _)
  }

  /** Cluster `df` by the Z-order of two dimensions: range-repartition +
    * sort on the Morton key, so each output partition (and each parquet
    * row group written from it) covers a small bounding box in BOTH
    * dimensions — min/max pruning then works for predicates on either
    * column, not just the lead sort key. This is the multi-dimensional
    * layout step a 100 TB table gets before being written. */
  def zorderRepartition(
      df: DataFrame, a: String, b: String,
      numPartitions: Int, bits: Int = 16): DataFrame = {
    val keyed = df.withColumn("__z", zorderKey(col(a), col(b), bits))
    keyed.repartitionByRange(numPartitions, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
  }

  /** Distributed running total over a GLOBAL sort order — without the
    * single-partition window that `Window.orderBy` (no partitionBy)
    * degrades to. The classic two-pass prefix sum:
    *
    *   1. range-repartition + in-partition sort on `sortCols`, so
    *      partition i holds a contiguous slice of the global order;
    *   2. one aggregation collects the PER-PARTITION totals (bounded by
    *      the partition count, never by rows) and prefix-sums them on
    *      the driver into per-partition offsets;
    *   3. an in-partition running-sum window (keyed by the stable
    *      partition id of the CHECKPOINTED sorted frame) plus the broadcast
    *      offset yields the global cumulative value.
    *
    * The cumulative values are independent of where the range
    * partitioner draws its bounds — offsets absorb the split — so the
    * result is deterministic across partitionings, which is what lets a
    * DuckDB single-threaded window replay it exactly. */
  def runningTotal(df: DataFrame, valueCol: String, sortCols: Seq[Column],
      cumCol: String = "cum_total"): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // integral columns only: a deterministic prefix sum is the point of
    // this operator, and float accumulation order would break it
    val vt = df.schema(valueCol).dataType
    require(Seq(org.apache.spark.sql.types.LongType,
        org.apache.spark.sql.types.IntegerType,
        org.apache.spark.sql.types.ShortType,
        org.apache.spark.sql.types.ByteType).contains(vt),
      s"runningTotal needs an integral value column, got $vt")
    val n = spark.sessionState.conf.numShufflePartitions
    // checkpointed: the pid column must stay pinned to one
    // materialization for the two readers below
    val sorted = df.repartitionByRange(n, sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
      .withColumn("__pid", spark_partition_id())
      .localCheckpoint()
    val partSums = sorted.groupBy(col("__pid"))
      .agg(sum(col(valueCol).cast("long")).as("__s"))
      .collect().map(r => r.getInt(0) ->
        (if (r.isNullAt(1)) 0L else r.getLong(1))).toMap
    val pids = partSums.keys.toSeq.sorted
    val offsets = pids.zip(pids.scanLeft(0L)((acc, p) => acc + partSums(p)))
    val offDf = offsets.toDF("__pid", "__off")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__pid")).orderBy(sortCols: _*)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    sorted.join(broadcast(offDf), Seq("__pid"))
      .withColumn(cumCol, sum(col(valueCol)).over(w) + col("__off"))
      .drop("__pid", "__off")
  }

  /** Round budget of the star rounds in [[connectedComponents]]: they
    * converge in O(log² n) rounds, so 64 covers any graph that fits a
    * cluster; a graph that needs more fails named rather than returning
    * partial labels. */
  private val StarRounds = 64

  /** Connected components of a pair graph: every vertex's `cluster_id`
    * is the minimum id reachable through (`id_a`, `id_b`) edges — the
    * canonical-representative assignment a dedup pipeline needs after
    * pair generation (keep `id == cluster_id`, drop the rest). A vertex
    * touching no edge is its own cluster; edge ids outside `vertices`
    * are dropped.
    *
    * One of two paths computes the identical min-label fixpoint. While
    * union-find is possible (long ids, `smallEdgeLimit > 0`) the pair
    * stream is checkpointed and counted ONCE to choose (the pair
    * generator upstream is usually the expensive part); otherwise star
    * rounds read it once, through their first localCheckpoint:
    *
    *   - at most `smallEdgeLimit` edges (default 1M pairs = 16 MB of
    *     longs) and long ids everywhere: driver union-find with path
    *     compression — one collect, zero per-round Spark jobs. Even on a
    *     1000-executor cluster, scheduling per-round stages over a few
    *     thousand rows costs more than the driver's O(E α(E)). Other id
    *     types never take it: a cast would change the output schema
    *     depending on nothing but the edge count.
    *   - otherwise: alternating LARGE-STAR / SMALL-STAR rounds (Kiveris
    *     et al., "Connected Components in MapReduce and Beyond", 2014).
    *     Each round doubles the pointer-jumping reach, so a 10k-long
    *     chain converges in ~log² n rounds where label propagation needs
    *     its diameter. Per round: two grouped min-aggregations (map-side
    *     partials — the hot component min collapses per task) + the emit
    *     joins, lineage cut by eager localCheckpoint; the driver sees
    *     only the edge-set checksum (count + hash xor), never data.
    *
    * Pinned path-against-path in DedupOpsSuite and against the d06/d17
    * oracle (recursive-CTE transitive closure). */
  def connectedComponents(vertices: DataFrame, idCol: String,
      pairs: DataFrame, smallEdgeLimit: Long = 1000000L): DataFrame = {
    import org.apache.spark.sql.types.LongType
    val base = pairs.select(col("id_a").as("__cu"), col("id_b").as("__cv"))
    val longIds = (base.schema.fields :+ vertices.schema(idCol))
      .forall(_.dataType == LongType)
    // (__v, __lbl) for edge-incident vertices
    val labels =
      if (smallEdgeLimit > 0 && longIds) {
        val edges = base.localCheckpoint()
        if (edges.count() <= smallEdgeLimit) unionFindLabels(edges)
        else starLabels(edges)
      } else starLabels(base)
    vertices.select(col(idCol))
      .join(labels, col(idCol) === col("__v"), "left")
      .select(col(idCol),
        coalesce(col("__lbl"), col(idCol)).as("cluster_id"))
  }

  /** Driver union-find over a long edge table (`__cu`, `__cv`); roots
    * resolve to the component MIN id, so the labels equal the star
    * fixpoint. Returned as a broadcast-hinted local relation. */
  private def unionFindLabels(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val es = edges.as[(Long, Long)].collect()
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x
      while (parent.getOrElse(c, c) != c) {
        val nxt = parent.getOrElse(c, c); parent(c) = r; c = nxt
      }
      r
    }
    es.foreach { case (a, b) =>
      val ra = find(a); val rb = find(b)
      if (ra != rb) parent(if (ra < rb) rb else ra) = math.min(ra, rb)
    }
    val verts = es.iterator.flatMap(e => Iterator(e._1, e._2)).toArray.distinct
    val minOfRoot = scala.collection.mutable.HashMap.empty[Long, Long]
    verts.foreach { v =>
      val r = find(v)
      minOfRoot(r) = math.min(minOfRoot.getOrElse(r, v), v)
    }
    broadcast(verts.map(v => (v, minOfRoot(find(v)))).toSeq
      .toDF("__v", "__lbl"))
  }

  /** Large-star/small-star rounds over an edge table (`__cu`, `__cv`)
    * of any orderable id type; fails named past [[StarRounds]]. */
  private def starLabels(edges: DataFrame): DataFrame = {
    def canon(e: DataFrame): DataFrame = e
      .select(greatest(col("__cu"), col("__cv")).as("__cu"),
        least(col("__cu"), col("__cv")).as("__cv"))
      .where(col("__cu") =!= col("__cv")).distinct()
    var e = canon(edges).localCheckpoint(true)
    def checksum(d: DataFrame): (Long, Long) = {
      // xor-fold: order-independent, overflow-free (ANSI-safe), and the
      // edge set is distinct so no element can self-cancel
      val r = d.agg(count(lit(1)),
        coalesce(bit_xor(xxhash64(col("__cu"), col("__cv"))), lit(0L)))
        .collect()(0)
      (r.getLong(0), r.getLong(1))
    }
    var cs = checksum(e)
    var done = cs._1 == 0L
    var it = 0
    while (!done && it < StarRounds) {
      // large-star over the symmetric neighbor view: every neighbor v
      // strictly above u re-attaches to m = min(Γ(u) ∪ {u})
      val s = e.unionByName(
        e.select(col("__cv").as("__cu"), col("__cu").as("__cv")))
      val mTab = s.groupBy("__cu").agg(min(col("__cv")).as("__mn"))
      val ls = s.join(mTab, "__cu")
        .withColumn("__m", least(col("__mn"), col("__cu")))
        .where(col("__cv") > col("__cu"))
        .select(col("__cv").as("__cu"), col("__m").as("__cv"))
      // small-star over the (hi, lo) orientation: every lo neighbor —
      // and hi itself — re-attaches to the minimum lo
      val lsE = canon(ls)
      val mn2 = lsE.groupBy("__cu").agg(min(col("__cv")).as("__m"))
      val joined = lsE.join(mn2, "__cu")
      val ss = joined.select(col("__cv").as("__cu"), col("__m").as("__cv"))
        .unionByName(joined.select(col("__cu"), col("__m").as("__cv")))
      e = canon(ss).localCheckpoint(true)
      val ncs = checksum(e)
      done = ncs == cs
      cs = ncs
      it += 1
    }
    require(done, s"star CC did not converge in $StarRounds rounds")
    // converged state is a star per component: (non-min -> min) edges
    e.groupBy(col("__cu").as("__v")).agg(min(col("__cv")).as("__lbl"))
  }

  /** PageRank in integer micro-units — graph centrality with NO float
    * anywhere: ranks start at `scale/|V|`, each iteration a node gets
    * `(scale*(100-dampNum)/100)/|V| + (dampNum * Σ in-contribs) div 100`
    * where a contribution is `rank div out-degree`. Every op is integer
    * multiply/divide/sum, so the fixpoint trajectory is bit-identical on
    * any engine and any partitioning — the same stance as the t12/p11
    * fixed-point aggregates, applied to an ITERATIVE computation.
    * (Truncation leaks a little mass per step; ranking is what matters.)
    *
    * Scale shape: the iteration runs over the EDGE-INCIDENT subgraph
    * only (the d06 move) — a vertex touching no edge is `base +
    * dampNum·0` from round 1 onward, so the non-incident majority of a
    * lightly-connected corpus joins back ONCE at the end with the
    * constant base rank, and per-round cost tracks |edges|, not |V|.
    * Per round: ONE edge⋈rank join (keyed on src), one
    * map-side-combinable sum keyed on dst, one left join to the incident
    * vertex set. The driver sees only |V| (one count) — never data.
    * Lineage is cut per round with an eager localCheckpoint, so `iters`
    * can grow without plan blowup. Dangling nodes keep the base rank;
    * departed mass is dropped, matching the documented truncation
    * stance. */
  def integerPageRank(vertices: DataFrame, idCol: String,
      edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int, scale: Long = 1000000L, dampNum: Long = 85L,
      smallEdgeLimit: Long = 1000000L): DataFrame = {
    require(iters >= 1 && scale > 0 && dampNum > 0 && dampNum < 100)
    val verts = vertices.select(col(idCol).as("__v")).localCheckpoint()
    val nV = verts.count()
    require(nV > 0, "empty vertex set")
    val init = scale / nV
    val base = scale * (100L - dampNum) / 100L / nV
    // edges materialize ONCE here — deg and the joined edge table both
    // read this checkpoint, so an expensive edge-generation lineage (d14's
    // whole PPJoin pipeline) never re-runs per consumer
    val ew = edges.select(col(srcCol).as("__src"), col(dstCol).as("__dst"))
      .localCheckpoint()
    val nE = ew.count()

    // driver fast path (the d06 union-find move): when the edge set is
    // driver-small and every id column is a long, run every round
    // locally — zero per-round Spark jobs; long-arithmetic sums commute,
    // so the result is the identical fixpoint. The corpus-sized vertex
    // table never collects: only the edge-INCIDENT vertex ids (bounded
    // by 2|E|, gathered through the same verts semi-join the distributed
    // path uses, so edges referencing ids OUTSIDE the vertex table
    // behave identically — phantom sources hold no rank, phantom dsts
    // emit no row) come back, and the final ranks broadcast-join against
    // `verts` with the constant base rank for everyone else.
    val longIds = Seq(vertices.schema(idCol), ew.schema("__src"),
        ew.schema("__dst"))
      .forall(_.dataType == org.apache.spark.sql.types.LongType)
    if (nE > 0 && nE <= smallEdgeLimit && longIds) {
      val es = ew.collect().map(r => (r.getLong(0), r.getLong(1)))
      val incident = verts.join(
          ew.select(col("__src").as("__v"))
            .unionByName(ew.select(col("__dst").as("__v"))).distinct(),
          Seq("__v"), "left_semi")
        .collect().map(_.getLong(0)).toSet
      val deg = new scala.collection.mutable.HashMap[Long, Long]
      es.foreach { case (s, _) => deg.update(s, deg.getOrElse(s, 0L) + 1L) }
      var r = incident.iterator.map(_ -> init).toMap
      for (_ <- 1 to iters) {
        val sums = new scala.collection.mutable.HashMap[Long, Long]
        es.foreach { case (s, d) =>
          // sources outside the vertex table hold no rank (they are
          // dropped by the distributed path's ranks join) — skip them
          r.get(s).foreach(rs => sums.update(d, sums.getOrElse(d, 0L) + rs / deg(s)))
        }
        r = incident.iterator
          .map(v => v -> (base + dampNum * sums.getOrElse(v, 0L) / 100L))
          .toMap
      }
      val spark = vertices.sparkSession
      import spark.implicits._
      val small = r.toSeq.toDF("__v", "__r")
      return verts.join(broadcast(small), Seq("__v"), "left")
        .select(col("__v").as(idCol),
          coalesce(col("__r"), lit(base)).as("rank_micro"))
    }
    val deg = ew.groupBy("__src").agg(count(lit(1)).as("__deg"))
    val edgesDeg = ew.join(deg, "__src").localCheckpoint()
    // only vertices an edge can ever reach iterate; everyone else is
    // base from round 1 on (in-degree 0 ⇒ contribution sum is 0)
    val incident = verts.join(
        edgesDeg.select(col("__src").as("__v"))
          .unionByName(edgesDeg.select(col("__dst").as("__v"))).distinct(),
        Seq("__v"), "left_semi")
      .localCheckpoint()
    var ranks = incident.select(col("__v"), lit(init).as("__r"))
    var i = 0
    while (i < iters) {
      val contrib = edgesDeg
        .join(ranks.withColumnRenamed("__v", "__src"), "__src")
        .select(col("__dst"), expr("__r div __deg").as("__c"))
        .groupBy("__dst").agg(sum("__c").as("__s"))
      ranks = incident
        .join(contrib.withColumnRenamed("__dst", "__v"), Seq("__v"), "left")
        .select(col("__v"),
          (lit(base) + expr(s"($dampNum * coalesce(__s, 0)) div 100")).as("__r"))
        .localCheckpoint(true)
      i += 1
    }
    verts.join(ranks, Seq("__v"), "left")
      .select(col("__v").as(idCol),
        coalesce(col("__r"), lit(base)).as("rank_micro"))
  }
}
