package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Benchmark main: times every gate query at SPARK_GRAFT_SF_DIR and emits
  * ONE compact JSON line — printed as the final stdout line AND written to
  * BENCH.json (path overridable via SPARK_GRAFT_BENCH_OUT) so the driver can
  * read it even when stdout tailing truncates.
  *
  * Each query is materialized with a noop-format write (full column decode +
  * full plan execution — `count()` would let Spark skip decoding projected
  * columns). Per-query failures are recorded in an `errors` map (value -1)
  * instead of being swallowed.
  *
  * Per-query time = min of two back-to-back runs, PLUS a stall-aware retime
  * pass (see BENCH_NOTES.md: the host exhibits roving multi-second
  * hypervisor stalls that can span both back-to-back runs — the r8
  * round-boundary file recorded a retired gate at 14.5 s where five committed
  * same-code runs measured 0.6-0.8 s). After the suite, any query whose
  * min-of-2 exceeds 2.0x its best committed value (BENCH_REF.json) is re-run
  * in isolation (min-of-2 again, stalls having roved elsewhere by then) and
  * the overall min is reported. EVERY such confirmation pass is listed
  * under `retimed` — an entry with old == new means "re-measured in
  * isolation, genuinely this slow", so no >2x row can appear in the
  * record without evidence it was double-checked. `noisy` counts queries
  * whose two in-suite runs disagreed >2x.
  */
object Bench {

  /** Fixed CPU-bound calibration probe — the host-speed canary. The bench
    * host is a shared-hypervisor microVM whose effective speed drifts by
    * regime (BENCH_NOTES r12: same-commit stash A/Bs measured 15-25%
    * slower than when most BENCH_REF records were set), which made the
    * 2x-vs-best retime trigger fire on host drift instead of code
    * regressions. The canary is a deterministic single-threaded xorshift +
    * 4 MB random-walk loop (arithmetic AND memory-latency bound, no I/O,
    * no Spark): its time moves with the host regime and never with query
    * code, so `current_canary / record_canary` isolates the host factor.
    * Min of three timed runs after one JIT warmup — a roving stall can
    * inflate one run, not all three.
    */
  def canary(): Double = {
    val mask = (1 << 19) - 1
    val arr = new Array[Long](1 << 19) // 4 MB working set
    var x = 0x9E3779B97F4A7C15L
    var sink = 0L
    def run(): Double = {
      val t0 = System.nanoTime()
      var i = 0
      var acc = 0L
      while (i < (1 << 26)) {
        x ^= x << 13; x ^= x >>> 7; x ^= x << 17
        val idx = (x & mask).toInt
        acc += arr(idx)
        arr(idx) = acc ^ x
        i += 1
      }
      sink ^= acc
      (System.nanoTime() - t0) / 1e9
    }
    run() // JIT warmup, untimed
    val best = math.min(run(), math.min(run(), run()))
    if (sink == 42L) System.err.println("(canary sink)") // defeat DCE
    best
  }

  /** Canary-normalized host factor: scales a best set in a faster host
    * regime up by `canaryNow / canaryOfRecord`, clamped to [1, 3] — only
    * ever LOOSENS the retime trigger, and a broken canary cannot silence
    * the ratchet entirely.
    */
  def hostFactor(canaryNow: Double, recordCanary: Option[Double]): Double =
    recordCanary.map(rc => math.min(3.0, math.max(1.0, canaryNow / rc)))
      .getOrElse(1.0)

  /** The retime trigger: a measured time is suspect when it exceeds 2.0×
    * its best committed value after host normalization (floored at 0.3 s
    * so sub-tenth-second jitter doesn't spam isolated re-runs); a query
    * with no committed reference is suspect above 4× the suite median and
    * 2 s. The same predicate re-applied to a retimed value decides
    * `stall_suspect` (BenchSpec pins both with synthetic stalls).
    */
  def isSuspect(secs: Double, priorBest: Option[Double], hostF: Double,
      suiteMedian: Double): Boolean =
    secs >= 0 && (priorBest match {
      case Some(p) => secs > 2.0 * p * hostF && secs > 0.3
      case None => secs > 4 * suiteMedian && secs > 2.0
    })

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH.json")
    // reference values for stall detection: best committed per-query times.
    // Read BEFORE the suite (outPath may be BENCH.json itself).
    val refPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_REF", "BENCH_REF.json")
    // (prior best per query, canary seconds of the run that SET that best,
    // the core count the ref file records — None for a pre-cpus-field ref)
    val (prior: Map[String, Double], priorCanary: Map[String, Double],
        refCpus: Option[String]) = {
      val p = Paths.get(refPath)
      val fallback = Paths.get("BENCH.json")
      val src = if (Files.exists(p)) Some(p) else if (Files.exists(fallback)) Some(fallback) else None
      src.flatMap { path =>
        try {
          import org.json4s._
          import org.json4s.jackson.JsonMethods
          val parsed = JsonMethods.parse(Files.readString(path))
          // reference times are only comparable at the SAME scale factor —
          // a sf0.001 smoke run must neither consult nor overwrite sf0.1
          // reference values (tiny refs would mass-trigger retiming later)
          val refSf = parsed \ "sf" match { case JString(s) => s; case _ => "" }
          // ... and at the SAME core count: the r15 driver's 8-core
          // scaling run merged 8-core bests into the 32-core ref (at
          // sf0.1 the suite is session-floor-bound, so fewer cores ran
          // FASTER per gate), mass-tightening the retime trigger for
          // every later 32-core run. A cpus-mismatched ref is neither
          // consulted nor overwritten (see the refresh guard below).
          val rc = parsed \ "cpus" match {
            case JString(s) => Some(s)
            case JInt(v) => Some(v.toString)
            case JLong(v) => Some(v.toString)
            case _ => None
          }
          if (refSf.nonEmpty && refSf != sfDir) Some((Map.empty[String, Double],
            Map.empty[String, Double], rc))
          else if (rc.exists(_ != cpus)) Some((Map.empty[String, Double],
            Map.empty[String, Double], rc))
          else {
            val canaries = parsed \ "canaries" match {
              case JObject(fields) =>
                fields.collect { case (k, JDouble(v)) => k -> v }.toMap
              case _ => Map.empty[String, Double]
            }
            parsed \ "queries" match {
              case JObject(fields) =>
                Some((fields.collect { case (k, JDouble(v)) => k -> v }.toMap,
                  canaries, rc))
              case _ => None
            }
          }
        } catch { case _: Throwable => None }
      }.getOrElse((Map.empty[String, Double], Map.empty[String, Double],
        None: Option[String]))
    }
    // session config lives in [[BenchSession]] (shared with PlanDump so
    // the committed plan evidence always matches what the bench executes)
    val spark = BenchSession.build(sfDir, cpus)
    spark.sparkContext.setLogLevel("WARN")
    // warmup: touch every table once so file listing / footer reads / first
    // codegen don't land on whichever query happens to run first
    // (alphabetically q_agg_avg was paying ~5s of one-time cost)
    Tables.all.foreach { t =>
      try Tables.load(spark, sfDir, t).write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => () }
    }
    // build the events day-partitioned archive fixture once up front so the
    // one-time write doesn't land on the first archive-backed query
    try Tables.eventsArchived(spark, sfDir).write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => () }
    // untimed codegen warmup: the alphabetically-first query was absorbing
    // the suite's first whole-stage-codegen compilation (~1s of noise)
    try Tables.lineitem(spark, sfDir)
      .where(org.apache.spark.sql.functions.col("l_quantity") > 0)
      .groupBy("l_returnflag")
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)))
      .write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => () }
    // host-speed canary, measured once warmups are done (same host regime
    // the suite runs under); recorded with the run and with every
    // reference best it sets. Re-sampled every CanaryEvery gates during
    // the suite (the canary TRACE): a single run-start sample cannot
    // attribute a WITHIN-run slow window — the r13 driver run measured a
    // 7-9x cluster on three adjacent gates while the run-level canary
    // moved 7%, and the r14 sf1 rung caught four adjacent gates at 6-20x
    // that re-ran normal. With the trace, each gate's timing carries the
    // nearest host-speed sample, so "host window" vs "code" decomposes
    // without archaeology.
    val CanaryEvery = 25
    val canaryTrace = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    var currentCanary = canary()
    canaryTrace("_start") = currentCanary
    val canarySecs = currentCanary
    System.err.println(
      f"[bench ${System.currentTimeMillis}] canary $canarySecs%.3f s")
    // optional name filter (regex, unanchored) for local family-isolation
    // experiments — the driver sets no filter and times the full suite
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.r)
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // noisy gates are NAMED, not just counted: [runA, runB, window canary]
    // per gate whose two in-suite runs disagreed >2x — a persistent slow
    // gate must not be able to hide inside an anonymous tally for rounds
    val noisyGates =
      scala.collection.mutable.LinkedHashMap.empty[String, (Double, Double, Double)]
    var noisy = 0
    def once(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      // drop anything a gate cached between queries, so a long session
      // doesn't accumulate cached frames. Resolved parquet relations go too, so
      // each timed gate pays for its own listing and schema inference
      spark.catalog.clearCache()
      Tables.dropResolved(spark)
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    val active = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.findFirstIn(name).isDefined) }
    // per gate: (min-of-2 seconds, the canary sample nearest its runs)
    val firstPass = active.zipWithIndex.map { case ((name, fn), idx) =>
      if (idx > 0 && idx % CanaryEvery == 0) {
        currentCanary = canary()
        canaryTrace(name) = currentCanary
        System.err.println(
          f"[bench ${System.currentTimeMillis}] canary (before $name) $currentCanary%.3f s")
      }
      // each query is timed TWICE and the min reported: this host (a
      // microVM on a shared hypervisor) exhibits roving multi-second
      // freezes — a trivial 20-row query was observed at 13.5 s with 64 ms
      // of GC and an otherwise idle guest, and the victim query differs
      // every run. min-of-2 measures the engine, not the hypervisor; the
      // `noisy` count reports how often the two runs disagreed >2x.
      val secs =
        try {
          val a = once(fn)
          val b = once(fn)
          if (math.max(a, b) > 2 * math.min(a, b) && math.max(a, b) > 1.0) {
            noisy += 1
            noisyGates(name) = (a, b, currentCanary)
          }
          // stderr progress (stdout must stay machine-parseable): timestamped
          // so per-query stalls can be correlated with -Xlog:gc output
          System.err.println(
            f"[bench ${System.currentTimeMillis}] $name ${math.min(a, b)}%.3f s (runs: $a%.3f, $b%.3f)")
          math.min(a, b)
        } catch {
          case e: Throwable =>
            errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName).take(120)
            e.printStackTrace(System.err)
            System.err.println(f"[bench ${System.currentTimeMillis}] $name FAILED")
            -1.0
        }
      (name, secs, currentCanary)
    }
    canaryTrace("_end") = canary()
    // ---- stall-aware retime pass -------------------------------------------
    // A stall spanning both in-suite runs defeats min-of-2. By the time the
    // suite finishes, the stall has roved elsewhere; re-measure (min-of-2
    // again, isolated) every query that looks inflated vs its best committed
    // value, and report min over all four runs. New queries with no committed
    // reference are retimed when they exceed 4x the suite median and 2 s.
    val byName = active.toMap
    val clean = firstPass.collect { case (_, v, _) if v >= 0 => v }.sorted
    val median = if (clean.isEmpty) 0.0 else clean(clean.length / 2)
    val retimed = scala.collection.mutable.LinkedHashMap.empty[String, (Double, Double)]
    // retimed values STILL suspect after their isolated pass get ONE more
    // isolated min-of-2 in a third window (stalls rove — the r15 driver
    // run rode a q_tpch_q3/q4 stall through min-of-2 AND the retime) and
    // are then named here if the value persists: a `stall_suspect` row in
    // the record means "measured slow in three separate windows", which a
    // reader should treat as real until a code change says otherwise.
    val stallSuspect = scala.collection.mutable.ArrayBuffer.empty[String]
    val results = firstPass.map { case (name, secs, canaryAt) =>
      // uniform 2.0x trigger vs the SHIPPED reference (the r10 record
      // carried ten 2-3.3x rows that rode through the old 2.5x/>0.5s
      // gate). The trigger is CANARY-NORMALIZED with the gate's NEAREST
      // trace sample (not the run-start value — a within-run slow window
      // is exactly what the trace exists to see); see [[hostFactor]] /
      // [[isSuspect]] for the clamps.
      val suspect = isSuspect(secs, prior.get(name),
        hostFactor(canaryAt, priorCanary.get(name)), median)
      if (!suspect) (name, secs, canaryAt)
      else {
        val best =
          try {
            val a = once(byName(name))
            val b = once(byName(name))
            math.min(secs, math.min(a, b))
          } catch { case _: Throwable => secs }
        // the retime runs execute at suite END, often in a different host
        // window than the first pass — sample the canary NOW so a best
        // set by the retime carries the window that produced it (pairing
        // a retime-fast time with the first pass's slow sample would put
        // the r13 seed bias right back into the ratchet, inverted)
        val retimeCanary = canary()
        canaryTrace(s"_retime_$name") = retimeCanary
        // a stall can span the suite runs AND the first retime window:
        // if the isolated value is STILL suspect under the retime-window
        // canary, take one more isolated min-of-2 — a third window is
        // cheap and stalls rove — and name the row stall_suspect if even
        // that confirms it
        val (finalBest, finalCanary) =
          if (!isSuspect(best, prior.get(name),
              hostFactor(retimeCanary, priorCanary.get(name)), median))
            (best, retimeCanary)
          else {
            val again =
              try {
                val a = once(byName(name))
                val b = once(byName(name))
                math.min(best, math.min(a, b))
              } catch { case _: Throwable => best }
            val c2 = canary()
            canaryTrace(s"_retime2_$name") = c2
            if (isSuspect(again, prior.get(name),
                hostFactor(c2, priorCanary.get(name)), median)) {
              stallSuspect += name
              System.err.println(
                f"[bench ${System.currentTimeMillis}] STALL-SUSPECT $name $again%.3f s persists across three windows (ref ${prior.getOrElse(name, -1.0)}%.3f)")
            }
            (again, c2)
          }
        System.err.println(
          f"[bench ${System.currentTimeMillis}] RETIME $name $secs%.3f -> $finalBest%.3f (ref ${prior.getOrElse(name, -1.0)}%.3f, canary $finalCanary%.3f)")
        // ALWAYS recorded, improved or not: a reader of the record can
        // tell every >2x row got its isolated confirmation pass (an
        // entry with old == new means "re-measured, genuinely this
        // slow", not "stall rode through undetected")
        retimed(name) = (secs, finalBest)
        (name, finalBest, if (finalBest < secs) finalCanary else canaryAt)
      }
    }
    def r3(v: Double): String = "%.3f".format(v)
    val qs = results.map { case (k, v, _) => s""""$k":${r3(v)}""" }.mkString("{", ",", "}")
    val errJson = errors.map { case (k, v) =>
      s""""$k":"${v.replaceAll("[\"\\\\\\n\\r\\t]", " ")}""""
    }.mkString("{", ",", "}")
    val rtJson = retimed.map { case (k, (old, nw)) =>
      s""""$k":[${r3(old)},${r3(nw)}]"""
    }.mkString("{", ",", "}")
    // the canary trace: host-speed samples at run start, before every
    // CanaryEvery-th gate (keyed by that gate's name), and at run end —
    // a gate's context is the sample at or before it in suite order
    val traceJson = canaryTrace.map { case (k, v) => s""""$k":${r3(v)}""" }
      .mkString("{", ",", "}")
    val total = results.collect { case (_, v, _) if v >= 0 => v }.sum
    val line =
      s"""{"metric":"total","value":${r3(total)},"unit":"sec","canary":${r3(canarySecs)},"canaryTrace":$traceJson,"queries":$qs,"errors":$errJson,"n_failed":${errors.size},"noisy":$noisy,"noisyGates":${
        noisyGates.map { case (k, (a, b, c)) =>
          s""""$k":[${r3(a)},${r3(b)},${r3(c)}]"""
        }.mkString("{", ",", "}")
      },"retimed":$rtJson,"stall_suspect":${
        stallSuspect.map(n => s""""$n"""").mkString("[", ",", "]")
      },"sf":"$sfDir"}"""
    Files.writeString(Paths.get(outPath), line + "\n")
    // refresh the stall-detection reference: per-query best of (committed
    // ref, this run) — only on full-suite runs (a filtered run would shrink
    // the reference map and blind future stall detection for the rest),
    // and only at the reference's own scale factor (`prior` is empty on an
    // sf mismatch, so the file is simply re-seeded at the new sf). Each
    // best carries the canary of the run that SET it; a best kept from the
    // committed ref keeps that ref's canary (absent → this run's, which
    // yields hostF=1 — the pre-canary behavior).
    // ... and only at the reference's own CORE COUNT: a scaling run at a
    // different cpus must neither consult the ref (handled at read) nor
    // overwrite it — the r15 driver's 8-core run merged floor-bound
    // 8-core bests into the 32-core ref file. A pre-cpus-field ref
    // (refCpus None) is adopted and stamped by the next matching run.
    if (only.isEmpty && sfDir == "/root/testdata/sf0.1" &&
        refCpus.forall(_ == cpus)) {
      val merged = results.collect { case (k, v, canaryAt) if v >= 0 =>
        // a new best records the canary NEAREST the runs that set it
        // (the trace sample), so record time and host speed describe the
        // same window — the r13 seed bias (fast-era times paired with a
        // slow-era canary) cannot re-enter the ratchet
        val pv = prior.getOrElse(k, Double.MaxValue)
        if (v < pv) k -> (v, canaryAt)
        else k -> (pv, priorCanary.getOrElse(k, canaryAt))
      }
      val refQs = merged.map { case (k, (v, _)) => s""""$k":${r3(v)}""" }.mkString("{", ",", "}")
      val refCs = merged.map { case (k, (_, c)) => s""""$k":${r3(c)}""" }.mkString("{", ",", "}")
      val refTotal = merged.map(_._2._1).sum
      try Files.writeString(Paths.get(refPath),
        s"""{"metric":"total","value":${r3(refTotal)},"unit":"sec","canary":${r3(canarySecs)},"cpus":"$cpus","queries":$refQs,"canaries":$refCs,"sf":"$sfDir"}""" + "\n")
      catch { case _: Throwable => () }
    }
    spark.stop()
    // last stdout line, after spark shutdown noise
    println(line)
  }
}
