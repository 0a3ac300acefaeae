package graft.tools

/** Drift-immune scale benchmark (r19 verdict item 4): this host's
  * above-sf0.1 walls drift ±30% with load across JVMs, so cross-round
  * comparison of one-shot sweeps is meaningless. This tool generalizes
  * the GuardCostProbe pattern to the full bench set: ONE JVM,
  * INTERLEAVED reps (rep 1 of every query, then rep 2 of every query,
  * ...), min of `reps` per query — load drift lands on all queries
  * alike instead of on whichever query a one-shot sweep happened to be
  * running, and the min-of-N is taken at equal JIT depth for every
  * query. Two runs of this tool agree where two one-shot sweeps do not.
  *
  * Guard REFUSALS are first-class results, not failures: a query whose
  * candidate-mass guard throws is recorded `"refused"` with the
  * decision wall (the pre-flight is itself a measured cost) and skipped
  * in later reps — refusal is deterministic. Other exceptions mark the
  * query failed (-1), exactly like graft.Bench.
  *
  * Floors: the same BENCH_floor.json machinery at this sf's namespace —
  * mins tighten the floors, and the clean verdict applies
  * [[graft.Bench.overFloorBand]] per query.
  *
  * Usage: SPARK_GRAFT_SF_DIR=/tmp/sf5.0 SPARK_GRAFT_SHUFFLE_PARTS=160 \
  *          sbt "runMain graft.tools.BenchStable [reps] [outFile]"
  * Defaults: reps=3, outFile=BENCH_sf5.json when the sf dir basename is
  * sf5.0 else BENCH_stable_<basename>.json.
  */
object BenchStable {
  def main(args: Array[String]): Unit = {
    val reps = args.headOption.map(_.toInt).getOrElse(3)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/tmp/sf5.0")
    val sfKey = new java.io.File(sfDir).getName
    val outFile = args.drop(1).headOption.getOrElse(
      if (sfKey == "sf5.0") "BENCH_sf5.json" else s"BENCH_stable_$sfKey.json")
    val spark = graft.Session.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def loadAvg: Double =
      java.lang.management.ManagementFactory.getOperatingSystemMXBean
        .getSystemLoadAverage

    val names = graft.SparkEntry.benchQueries ++ graft.SparkEntry.baselineQueries
    val baselineSet = graft.SparkEntry.baselineQueries.toSet
    // a guard refusal names its budget conf key — that, not the
    // exception type alone, is the refusal signature
    def isRefusal(e: Throwable): Boolean =
      e.isInstanceOf[IllegalStateException] && e.getMessage != null &&
        (e.getMessage.contains(".maxCandidatePairs") ||
          e.getMessage.contains(".maxPairMass"))

    graft.Tables(spark, sfDir, "lineitem").count() // parquet/JIT warm
    val loadStart = loadAvg
    val samples = scala.collection.mutable.Map[String, Vector[Double]]()
      .withDefaultValue(Vector.empty)
    val refused = scala.collection.mutable.LinkedHashMap[String, Double]()
    val failed = scala.collection.mutable.LinkedHashSet[String]()
    for (r <- 1 to reps; name <- names
         if !refused.contains(name) && !failed.contains(name)) {
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      try {
        graft.SparkEntry.queries(name)(spark, sfDir).count()
        val sec = (System.nanoTime() - t0) / 1e9
        samples(name) = samples(name) :+ sec
        System.err.println(f"[stable] rep$r $name $sec%.3f s")
      } catch {
        case e: Throwable if isRefusal(e) =>
          val sec = (System.nanoTime() - t0) / 1e9
          refused(name) = sec
          System.err.println(f"[stable] rep$r $name REFUSED in $sec%.3f s " +
            s"(${e.getMessage.takeWhile(_ != '.')})")
        case e: Throwable =>
          failed += name
          System.err.println(s"[stable] rep$r $name FAILED: ${e.getMessage}")
      }
    }
    val loadEnd = loadAvg
    val mins = names.flatMap { n =>
      val vs = samples(n); if (vs.isEmpty) None else Some(n -> vs.min)
    }
    val (base, head) = mins.partition { case (n, _) => baselineSet(n) }

    // floor machinery in a PROTOCOL-OWN namespace (`<sf>-stable/...`):
    // the legacy `<sf>/...` floors are gap-timed back-to-back minima
    // (TimeOne-style), and interleaved cold-arrival walls sit ~2x above
    // them for codegen-heavy queries — comparing across protocols is
    // the same mistake as comparing across floor epochs, so this tool
    // neither reads nor tightens the legacy keys
    val floorNs = s"$sfKey-stable"
    val priorFloors = graft.Bench.loadFloors()
    def floorOf(n: String): Option[Double] = priorFloors.get(s"$floorNs/$n")
    val newFloors = mins.foldLeft(priorFloors) { case (acc, (n, v)) =>
      val k = s"$floorNs/$n"
      acc.updated(k, acc.get(k).fold(v)(math.min(_, v)))
    }
    graft.Bench.saveFloors(newFloors)
    val overBand = head.collect {
      case (n, v) if floorOf(n).exists(fl => graft.Bench.overFloorBand(fl, v)) => n
    }
    val clean = overBand.isEmpty && failed.isEmpty

    def jmap(rs: Seq[(String, Double)]): String =
      rs.map { case (k, v) => "\"" + k + f"""\":$v%.3f""" }.mkString("{", ",", "}")
    def jsamples: String = names.filter(samples(_).nonEmpty).map { n =>
      "\"" + n + "\":" + samples(n).map(v => f"$v%.3f").mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val headTotal = head.map(_._2).sum
    val baseTotal = base.map(_._2).sum
    val body =
      f"""{"metric":"stable_total","value":$headTotal%.3f,"unit":"sec","clean":$clean,"reps":$reps,"queries":${jmap(head)},"baseline_queries":${jmap(base)},"baseline_total":$baseTotal%.3f,"refused":${jmap(refused.toSeq)},"failed":${failed.map("\"" + _ + "\"").mkString("[", ",", "]")},"over_floor":${overBand.map("\"" + _ + "\"").mkString("[", ",", "]")},"samples":$jsamples,"loadavg":{"start":$loadStart%.2f,"end":$loadEnd%.2f},"sf":"$sfDir"}"""
    java.nio.file.Files.write(
      java.nio.file.Paths.get(outFile), body.getBytes("UTF-8"))
    println(f"[stable] total=$headTotal%.3f s over ${head.size} queries, " +
      f"baselines=$baseTotal%.3f s, refused=${refused.size}, " +
      s"failed=${failed.size}, over_floor=${overBand.mkString(",")} -> $outFile")
    spark.stop()
  }
}
