package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.obs.RunMetrics

/** Benchmark main: times the catalog on SPARK_GRAFT_SF_DIR.
  *
  * Measurement rules (accreted round 1 → 12; each clause names the
  * artifact failure it prevents):
  *   - materialize the FULL plan through the `noop` sink — a bare
  *     `count()` lets Catalyst prune projections/sorts, timing a plan
  *     the correctness gate never checked;
  *   - one untimed warm-up pass first, so JVM/Spark/codegen startup
  *     isn't billed to whichever query happens to run first;
  *   - timed runs are INTERLEAVED full-catalog sweeps (run every timed
  *     query once, then repeat) rather than back-to-back repeats: the
  *     r2 artifact recorded a single-shot 17 s GC/JIT hiccup for a
  *     1.4 s query, and the r8 artifact showed a several-minute
  *     session-pressure window inflating one alphabetical stretch of
  *     back-to-back triples 10-30x — with sweeps, each query's samples
  *     are minutes apart, so a transient window can tax at most one
  *     sample and the cross-sweep lower-median sheds it;
  *   - TWO timed sweeps, not three (round-12 budget fix): the r8
  *     insight that mattered was the INTERLEAVING, not the sample
  *     count — lower-median of 2 = min, which is exactly the "shed the
  *     noisy sample" estimator the 3-sweep median was approximating.
  *     Three sweeps of a 200-entry catalog plus per-sweep restart
  *     overhead stopped fitting the driver's 470 s budget around r10
  *     and produced four consecutive partial artifacts (r8-r11);
  *   - ONE session restart, after warm-up, before sweep 1 only
  *     (round-12; was per-sweep in r11): the restart exists to drop
  *     the warm-up's dead-but-strongly-held block store (cleaner off,
  *     see below) so the timed heap is deterministic — that benefit is
  *     paid for once; repeating it re-paid settle + JIT quiesce per
  *     sweep (~60-90 s each) for no additional determinism. Between
  *     sweeps: unpersist + gc + a SHORT quiesce;
  *   - a SHARDED timed catalog (round-12): the ~100 core production
  *     entries (listed as "core" in BASELINE_BENCH.json) are timed
  *     every round; the remaining entries rotate in rotation_k
  *     deterministic hash groups, one group per round, so every entry
  *     is re-measured every rotation_k rounds while the per-round
  *     sweep stays ~135 entries ≈ 70 s warm. Correctness is NOT
  *     sharded — Verify still gates all entries every round. The
  *     round index comes from the committed BENCH_r{N}.json files
  *     (max N + 1): deterministic, no wall clock. The rotation GROUP
  *     advances +1 from the newest artifact whose slice was actually
  *     TIMED (round-13 verdict item 6 + round-14 item 1: a round with
  *     no artifact must not make the group index skip, and a round
  *     that dropped its slice must not make the next run advance past
  *     entries never measured — the artifact's "rotation_timed" field
  *     records the fact). New entries absent
  *     from the baseline are always timed (fresh code gets a number
  *     the round it lands). SPARK_GRAFT_BENCH_ALL=1 times everything
  *     (used to re-record the baseline);
  *   - budget arithmetic, closed by construction (round-12): with the
  *     470 s default budget, worst-case healthy-session spend is
  *     warm-up (hard cap 100) + restart/settle/quiesce (≤ 75) +
  *     sweep 1 (~70) + inter-sweep (≤ 20) + sweep 2 (~70) ≈ 335 s. A
  *     degraded host (the r11 1.8x bandwidth-starved session)
  *     inflates sweeps to ~130 s each: the pre-sweep-2
  *     feasibility check then stops cleanly after ONE complete sweep —
  *     every timed entry still sampled, partial stays false — instead
  *     of blowing the budget mid-sweep into an alphabetically-biased
  *     partial;
  *   - System.gc() + unpersist between sweeps: stops heap growth from
  *     biasing sweep 2 and drops sweep 1's localCheckpoint blocks
  *     where nothing is being timed;
  *   - per-entry counters from [[graft.obs.RunMetrics]], attributed by
  *     job group (one `bench-<entry>-<seq>` group per run): the last
  *     timed run's jobs, stages, tasks, shuffle, spill, CPU and GC are
  *     published under "metrics" — load-independent numbers next to
  *     the wall times. Any timed entry whose run contains a ≥ 3 s stage
  *     with tasks = 1 is listed under "single_task" — the r10/r11
  *     class of scale defect (AQE or a 1-file input collapsing a hot
  *     stage onto one core) as a machine-checkable artifact field;
  *   - `vs_baseline` excludes `deadlined` entries; raw numbers stay in
  *     `queries` (a deadlined sample is the lower bound of a run that
  *     never finished, not a plan measurement);
  *   - emit the JSON line on stdout AND to bench_out.json, because the
  *     stdout line drowns in sbt log noise ("parsed": null in r01);
  *   - split the total into production vs verification subtotals: the
  *     `*_portable` entries run md5-as-string hashing that exists ONLY
  *     to put a DuckDB hash oracle on the sketch algorithms — their
  *     cost is verification overhead, not engine throughput — and
  *     report the production-subtotal ratio vs the committed
  *     BASELINE_BENCH.json so a regression is machine-checkable.
  */
object Bench {

  /** Timed sweeps per run (see the TWO-sweeps rule above). */
  private val Sweeps = 2

  /** Catalog entries that exist solely to oracle a sketch algorithm
    * with a cross-engine-portable (md5-prefix) hash: the `_portable`
    * suffix, the rule `tools/make_baseline.py` records as the
    * baseline's `verification_only`. Production twins
    * (`dedup_minhash_lsh`, `doc_winnow_fingerprint`, `text_simhash`)
    * keep xxhash64 and are counted as production. */
  def verificationOnly(name: String): Boolean = name.endsWith("_portable")

  /** Parse (rotation_group, slice-was-timed) from ONE committed bench
    * artifact's RAW text. Committed artifacts come in two shapes: the
    * bare JSON line this main emits, and the driver's wrapper, which
    * embeds a (possibly truncated) suffix of that line quote-ESCAPED
    * inside a "tail" string — BENCH_r13.json literally contains
    * `\"rotation_group\":0`. The r14 recovery regex matched only the
    * unescaped form, never hit either committed artifact, and the
    * silent floorMod fallback skipped rotation group 1 (r14 verdict
    * item 1). Unescape before matching so both shapes parse.
    *
    * "Timed" prefers the explicit `rotation_timed` field (emitted from
    * r15 on); older artifacts infer it as `degraded_shard:false` AND
    * `partial:false` — the r14 run dropped its rotation slice via the
    * degraded-shard decision yet still published the advanced group
    * number. */
  private[graft] def rotationRecord(raw: String): Option[(Int, Boolean)] = {
    val text = raw.replace("\\\"", "\"")
    """"rotation_group":\s*([0-9]+)""".r.findFirstMatchIn(text).map { m =>
      val timed = """"rotation_timed":\s*(true|false)""".r
        .findFirstMatchIn(text).map(_.group(1) == "true").getOrElse {
          """"degraded_shard":\s*true""".r.findFirstIn(text).isEmpty &&
            """"partial":\s*true""".r.findFirstIn(text).isEmpty
        }
      (m.group(1).toInt, timed)
    }
  }

  /** Next rotation group from the committed artifacts, newest first:
    * +1 from the newest artifact whose slice was actually TIMED.
    * Artifacts that selected a group but dropped its slice (degraded
    * shard, partial run) are skipped entirely — advancing past an
    * untimed group would leave its entries permanently unmeasured.
    * Sequential coverage is per TIMED slice, not per published
    * number. A full-catalog BENCH_ALL artifact records
    * `rotation_timed: true` (its rotation slice is vacuously covered —
    * every entry was timed), so builder-side BENCH_ALLs advance the
    * group too once their artifact is in the scanned set (r20 verdict
    * item 5). */
  private[graft] def nextRotationGroup(rawsNewestFirst: Seq[String],
      rotationK: Int): Option[Int] =
    rawsNewestFirst.iterator.flatMap(rotationRecord(_)).collectFirst {
      case (g, true) => math.floorMod(g + 1, rotationK)
    }

  /** Rotation STALENESS counter (r20 verdict item 5 — "worth a
    * staleness counter in the artifact"): how many consecutive recent
    * artifacts failed to time their rotation slice. 0 = the newest
    * rotation-recording artifact advanced the group; N = the group has
    * been stuck behind N untimed runs (r18-r20 published
    * rotation_timed:false three driver rounds running and nothing in
    * the artifact said how stale the non-core entries were).
    * Artifacts with no rotation record (pre-r12, truncated) are
    * skipped, same as in [[nextRotationGroup]]. */
  private[graft] def rotationAge(rawsNewestFirst: Seq[String]): Int =
    rawsNewestFirst.iterator.flatMap(rotationRecord(_))
      .takeWhile(!_._2).size

  /** Pure shrink for the post-warm budget fit (r19, verdict item 2):
    * when two predicted sweeps of the warmed timed set no longer fit
    * the remaining budget, drop entries — rotation slice first, then
    * core — costliest first within each group, until the arithmetic
    * fits (or a floor of `minKeep` entries is reached, below which the
    * artifact stops being worth emitting and the budget overrun is
    * the lesser evil). Entries with no baseline record (new this
    * round) rank with core: they are the rows the round exists to
    * measure. Returns the kept set in the original order. */
  private[graft] def shrinkToBudget(timed: Seq[String],
      isCore: String => Boolean, cost: String => Double,
      fits: Seq[String] => Boolean, minKeep: Int = 20): Seq[String] = {
    val dropOrder = timed.sortBy(n => (if (isCore(n)) 1 else 0, -cost(n)))
    var kept = timed
    val it = dropOrder.iterator
    while (!fits(kept) && kept.size > minKeep && it.hasNext) {
      val d = it.next()
      kept = kept.filterNot(_ == d)
    }
    kept
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Session.cpus.toString
    def buildSession(): SparkSession = Session.builder(cpus.toInt)
      // BENCH-ONLY: disable the ContextCleaner. ~500 query executions
      // share this session; every young GC releases thousands of dead
      // broadcast/RDD weak refs at once and the cleaner's remove-RPC
      // flood saturates the BlockManagerMaster dispatcher — queries
      // that register broadcast pieces mid-build stall behind it for
      // MINUTES (observed: 4 s entries reading 120-340 s, different
      // victims each run, always broadcast-building ones; calibration
      // normal). With tracking off, blocks accumulate (a few GB in a
      // 19 GB store, MEMORY_AND_DISK spills, nothing is lost) and the
      // restart after warm-up drops the bulk of them wholesale.
      // Verify/tests keep the default cleaner.
      .config("spark.cleaner.referenceTracking", "false")
      .getOrCreate()

    // Wall-clock discipline (round-9 fix): the driver runs Bench under a
    // hard external timeout (~600 s including sbt startup/compile) and a
    // kill leaves NO artifact — BENCH_r09.json was rc=124 with
    // "parsed": null even though the same catalog benched at 0.8x
    // baseline the same morning. A soft budget
    // (SPARK_GRAFT_BENCH_BUDGET_SEC, default 470 s measured from this
    // main's start) is checked between queries; when exceeded,
    // remaining work is dropped and the JSON is emitted from the
    // samples already collected, marked "partial": true with
    // "sweeps_completed" — a slow session degrades the sample count,
    // never the artifact.
    val t0Wall = System.nanoTime()
    def elapsedSec: Double = (System.nanoTime() - t0Wall) / 1e9
    val budgetSec =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET_SEC", "470").toDouble
    val names = SparkEntry.queries.keys.toSeq.sorted

    // ----- baseline record (parsed once: ratios + the core shard list).
    // The baseline file is a flat JSON object; scrape it with regexes
    // (no JSON library on the allowed deps).
    val baselinePath = Paths.get("BASELINE_BENCH.json")
    val baselineText: Option[String] =
      if (Files.exists(baselinePath)) Some(Files.readString(baselinePath))
      else None
    val baseKv: Map[String, Double] = baselineText.map { text =>
      """"([a-z0-9_]+)":\s*([0-9.]+)""".r.findAllMatchIn(text)
        .map(m => m.group(1) -> m.group(2).toDouble).toMap
    }.getOrElse(Map.empty)
    val baseCore: Seq[String] = baselineText.flatMap { text =>
      """"core":\s*\[([^\]]*)\]""".r.findFirstMatchIn(text).map { m =>
        "\"([a-z0-9_]+)\"".r.findAllMatchIn(m.group(1))
          .map(_.group(1)).toSeq
      }
    }.getOrElse(Seq.empty)
    val rotationK: Int = baselineText.flatMap { text =>
      """"rotation_k":\s*([0-9]+)""".r.findFirstMatchIn(text)
        .map(_.group(1).toInt)
    }.getOrElse(3).max(1)
    // Every baseline-driven DECISION (budget shrink, sweep-cost
    // prediction, vs_baseline) requires the run's config to match what
    // the baseline recorded — per-entry times from a different SF or
    // core count predict nothing. One flag, checked everywhere baseKv
    // feeds a decision.
    val baselineConfigMatches: Boolean = baselineText.exists { text =>
      val baseSf = """"sf":\s*"([^"]+)"""".r
        .findFirstMatchIn(text).map(_.group(1))
      val baseCpus = """"cpus":\s*"?([0-9]+)"?""".r
        .findFirstMatchIn(text).map(_.group(1))
      baseSf.contains(sfDir) && baseCpus.contains(cpus)
    }
    // ----- timed-catalog shard (round-12). Round index = max committed
    // BENCH_r{N}.json + 1 — deterministic, survives re-runs within a
    // round (same N → same shard → comparable re-runs).
    import scala.jdk.CollectionConverters._
    // SPARK_GRAFT_ROUND overrides the file-derived index — for
    // exercising a specific rotation group ahead of its round.
    val roundIdx: Int = sys.env.get("SPARK_GRAFT_ROUND").map(_.toInt)
      .getOrElse(Files.list(Paths.get(".")).iterator().asScala
        .map(_.getFileName.toString)
        .collect { case s if s.matches("BENCH_r\\d+\\.json") =>
          s.stripPrefix("BENCH_r").stripSuffix(".json").toInt }
        .maxOption.getOrElse(0) + 1)
    val benchAll = sys.env.get("SPARK_GRAFT_BENCH_ALL").contains("1")
    // Rotation group advances +1 per committed TIMED slice, not by
    // round number (round-13 verdict item 6) and not by published
    // number alone (round-14 verdict item 1): a round with no artifact
    // (r12) must not make floorMod(roundIdx, k) skip a group, and a
    // round that published a group but DROPPED its slice (r14:
    // degraded_shard, core-only) must not make the next run advance
    // past entries that were never measured. [[nextRotationGroup]]
    // scans the artifacts newest-first — handling the driver wrapper's
    // quote-escaped "tail" form that r14's regex silently missed — and
    // advances from the newest artifact whose slice was actually
    // timed. SPARK_GRAFT_ROUND keeps its override meaning (exercise a
    // specific group ahead of its round); the round-index derivation
    // remains the fallback when no artifact records a timed group. The
    // derivation path is LOGGED: r14's fallback was silent, which is
    // exactly how a dead recovery regex survived a round unnoticed.
    // Artifact scan, newest first. Two sources (r20 verdict item 5):
    // the driver's committed BENCH_r{N}.json files (round = file name)
    // and the working tree's bench_out.json — the builder's most
    // recent run, which from r21 on self-describes its round via the
    // artifact's "round" field; a BENCH_ALL bench_out is a full-
    // catalog timed run and must advance the rotation group just like
    // a driver artifact would. Ordering: round DESC, BENCH_r file
    // preferred over bench_out at the same round (the driver runs
    // after the builder session ends, so its artifact is the later
    // one). A bench_out without a "round" field (pre-r21) cannot be
    // ordered and is ignored.
    val artifactRaws: Seq[String] = {
      val benchR = Files.list(Paths.get(".")).iterator().asScala
        .map(_.getFileName.toString)
        .collect { case s if s.matches("BENCH_r\\d+\\.json") =>
          (s.stripPrefix("BENCH_r").stripSuffix(".json").toInt, 1, s) }
        .toSeq
      val benchOut = {
        val p = Paths.get("bench_out.json")
        if (!Files.exists(p)) Seq.empty
        else {
          val text = scala.util.Try(Files.readString(p)).getOrElse("")
          """"round":\s*([0-9]+)""".r.findFirstMatchIn(text)
            .map(m => (m.group(1).toInt, 0, "bench_out.json")).toSeq
        }
      }
      (benchR ++ benchOut).sortBy(t => (-t._1, -t._2))
        .map { case (_, _, f) => scala.util.Try(
          Files.readString(Paths.get(f))).getOrElse("") }
    }
    val rotAge: Int = rotationAge(artifactRaws)
    val (rotationG, rotationSrc): (Int, String) = {
      val fromArtifacts =
        if (sys.env.contains("SPARK_GRAFT_ROUND")) None
        else nextRotationGroup(artifactRaws, rotationK)
      fromArtifacts.map((_, "artifact"))
        .getOrElse((math.floorMod(roundIdx, rotationK),
          if (sys.env.contains("SPARK_GRAFT_ROUND")) "env-override"
          else "floorMod-fallback"))
    }
    System.err.println(
      s"[bench] rotation group $rotationG derived via $rotationSrc")
    def inRotation(n: String): Boolean =
      math.floorMod(
        scala.util.hashing.MurmurHash3.stringHash(n), rotationK) == rotationG
    var timedNames: Seq[String] =
      if (benchAll || baseCore.isEmpty) names
      else {
        val core = baseCore.toSet
        // entries with no baseline record are NEW this round: always
        // time them, so fresh code gets a number the round it lands
        val known = baseKv.keySet
        names.filter(n => core(n) || !known(n) || inRotation(n))
      }
    // this round's rotation slice — the entries whose staleness the
    // rotation exists to bound; "rotation_timed" in the artifact is
    // the fact the next run's group-advance decision needs
    val rotationSlice: Seq[String] =
      if (benchAll || baseCore.isEmpty) Seq.empty
      else names.filter(n => !baseCore.contains(n) &&
        baseKv.contains(n) && inRotation(n))
    System.err.println(f"[bench] round $roundIdx: timing " +
      f"${timedNames.size}/${names.size} entries (core ${baseCore.size}, " +
      f"rotation group $rotationG/$rotationK" +
      (if (benchAll) ", BENCH_ALL" else "") + ")")

    // One recorder for the whole run, on each session: counters per
    // `bench-<entry>-<seq>` job group, read after the last sweep.
    val rec = new RunMetrics.Recorder(keepPlans = false)
    def newSession(): SparkSession = {
      val s = buildSession()
      s.sparkContext.setLogLevel("WARN")
      s.sparkContext.addSparkListener(rec)
      s
    }
    var spark = newSession()
    // Per-query deadline (round-11, verdict item 5): one pathological
    // entry must never zero out a whole sweep again (r10: a single
    // 466 s entry burned the entire 470 s budget → partial artifact,
    // 0 sweeps). The watchdog cancels the query's job group REPEATEDLY
    // (period 2 s) once the deadline passes — a single cancel can land
    // between two of an iterative entry's jobs and miss. A deadlined
    // entry records its elapsed time (~deadline) as a LOWER BOUND —
    // still counted in totals and listed under "deadlined" in the JSON,
    // but kept out of vs_baseline (a lower bound is not a ratio term).
    val queryDeadlineSec =
      sys.env.getOrElse("SPARK_GRAFT_QUERY_DEADLINE_SEC", "120").toDouble
    val deadlined =
      java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val watchdog = new java.util.Timer("bench-deadline", true)
    val groupSeq = new java.util.concurrent.atomic.AtomicLong()
    // Every run as (entry, job group, seconds, timed), read against
    // the recorder once the bus has settled after the last sweep.
    val runs =
      new java.util.concurrent.ConcurrentLinkedQueue[(String, String, Double, Boolean)]()
    // `timed`: a run of the serial timed sweeps; the 8-thread warm-up
    // and the settle pass are untimed.
    // `cancelSink`: when an untimed (warm) run is deadline-
    // cancelled, its name lands here — the warm pass's caller must
    // treat a cancelled warm as NOT warmed (r19 ADVICE: an entry whose
    // warm runOnce was cancelled mid-execution is partially warmed yet
    // was absent from the skipped list, a residual cold-timed path).
    def runOnce(name: String, timed: Boolean,
        deadlineSec: Double = queryDeadlineSec,
        cancelSink: java.util.Set[String] = null): Double = {
      val group = s"bench-$name-${groupSeq.incrementAndGet()}"
      spark.sparkContext.setJobGroup(group, name, interruptOnCancel = true)
      @volatile var killed = false
      val killer = new java.util.TimerTask {
        override def run(): Unit = {
          killed = true
          spark.sparkContext.cancelJobGroup(group)
        }
      }
      watchdog.schedule(killer, (deadlineSec * 1000).toLong, 2000L)
      val t0 = System.nanoTime()
      val sec = try {
        SparkEntry.queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      } catch { case e: Throwable =>
        if (killed) {
          // Only a TIMED run's cancellation is a reportable deadline:
          // the concurrent warm-up runs 8 heavy entries at once, so a
          // warm-up cancellation measures contention, not the query
          // (r11: a 2.4 s entry was flagged from its warm-up run).
          if (timed) deadlined.add(name)
          else if (cancelSink != null) cancelSink.add(name)
          System.err.println(f"[bench] $name hit the per-query deadline " +
            f"($deadlineSec%.0f s): cancelled" +
            (if (timed) ", recording lower bound" else " (warm-up)"))
          (System.nanoTime() - t0) / 1e9
        } else {
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          -1.0
        }
      } finally {
        killer.cancel()
        spark.sparkContext.clearJobGroup()
      }
      runs.add((name, group, sec, timed))
      sec
    }

    // Recorded-cost rank, shared by warm-up (descending: warm the
    // expensive first) and sweep order (ascending: time the cheap
    // first): the MAX time ever recorded per entry across the round
    // artifacts in the repo (BENCH_r*.json / bench_out.json, scraped
    // with the baseline's regex — stale highs are fine, they mark
    // expensive code paths). Unrecorded (new) entries rank by the
    // heavy-prefix heuristic.
    val costRank: String => Double = {
      val heavyPrefixes = Seq("dedup_", "decontam_", "graph_", "basket_",
        "anomaly_", "sample_cap", "corpus_", "multimodal_", "pipeline_")
      val kv = """"([a-z0-9_]+)":\s*([0-9.]+)""".r
      val recorded: Map[String, Double] = Files.list(Paths.get("."))
        .iterator().asScala
        .filter { p =>
          val n = p.getFileName.toString
          n.matches("BENCH_r\\d+\\.json") || n == "bench_out.json"
        }.toSeq
        .flatMap { p =>
          val text = scala.util.Try(Files.readString(p)).getOrElse("")
          kv.findAllMatchIn(text)
            .map(m => m.group(1) -> m.group(2).toDouble)
        }.groupMapReduce(_._1)(_._2)(math.max)
      n => recorded.getOrElse(n,
        if (heavyPrefixes.exists(n.startsWith)) 5.0 else 0.0)
    }
    var unwarmed = -1
    // Entries the warm deadline left cold and that were therefore
    // DROPPED from the timed set (r19): published so a reader can see
    // what a shrunk artifact does not cover.
    var warmDropped = 0
    var budgetDropped = 0
    // Concurrent warm pass over `entries` (8 threads, costliest first
    // within each `priority` tier — LOWER tiers warm first, so when
    // the deadline truncates, the un-warmed tail is the highest tier;
    // hard deadline `budget`); returns the names left un-warmed.
    //
    // Warms against the MEASURED dir, always (round-11 revert of the
    // round-9 sf0.001 shortcut): under AQE, physical plans — and so
    // the generated whole-stage-codegen classes — are NOT
    // data-size-independent (different broadcast/coalesce decisions at
    // 1/100th the bytes → different generated code). An sf0.001
    // warm-up left sweep 1 loading fresh sf0.1 codegen classes into a
    // saturated C2 queue, so entries ran INTERPRETED for whole stages.
    //
    // Costliest first, DATA-DRIVEN: when the deadline truncates the
    // warm-up, the un-warmed tail must be the CHEAP entries
    // (first-run codegen ~1 s each, shed by the sweep median), never
    // the iterative / gram-join entries whose cold first run costs
    // 10-60 s inside a timed sweep. A static prefix list proved
    // luck-dependent (r11: two runs with the same budget warmed
    // different subsets; the one that missed dedup_cluster_cc paid
    // 55 s for it in sweep 1 and the sweep blew the budget).
    // Per-entry OBSERVED warm wall-times (r19 verdict item 1a): the
    // block-manager/IO stall mode (task threads park while the host
    // reads healthy) shows only in the work itself, so the warm pass
    // is the instrument: its per-entry costs feed the post-warm
    // fit-shrink.
    val warmObserved =
      new java.util.concurrent.ConcurrentHashMap[String, java.lang.Double]()
    def warmConcurrent(entries: Seq[String], budget: Double,
        priority: String => Int = _ => 0): Seq[String] = {
      val w0 = System.nanoTime()
      val queue = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      entries.sortBy(n => (priority(n), -costRank(n))).foreach(queue.add)
      // Deadline-cancelled warms are NOT warmed (r19 ADVICE): collect
      // them and return them with the leftovers so the caller's
      // never-time-cold drop covers the partially-warmed path too.
      val cancelled =
        java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
      val warmThreads = (1 to 8).map { _ =>
        new Thread(() => {
          // NO unpersist in here: warm-up entries run CONCURRENTLY, and
          // a blanket getPersistentRDDs unpersist from one thread
          // destroys another thread's in-flight localCheckpoint blocks
          // (observed: CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND). Blocks
          // accumulated by the warm-up are dropped wholesale by the
          // post-warm-up session restart.
          // budget check BEFORE poll: polling first and then testing
          // the budget let a thread exit holding an entry that was
          // neither run nor re-queued — absent from the returned
          // skipped list yet cold, up to 8 entries (one per thread)
          // silently leaking past the never-time-cold drop
          var n: String =
            if ((System.nanoTime() - w0) / 1e9 < budget) queue.poll()
            else null
          while (n != null) {
            // Per-entry deadline = REMAINING warm budget (+30 s
            // grace, floor 40 s). A short FLAT deadline was tried
            // (45 s) and made the bench worse — it cancelled the
            // heavy iterative entries mid-run under 8-way contention
            // and they entered sweep 1 cold, paying 20-50x
            // (dedup_cluster_cc 48.6 s cold vs 2.0 s warmed). With
            // costliest-first ordering the expensive entries start
            // EARLY and get effectively the full deadline; only
            // stragglers started near the budget edge are clipped, so
            // the warm-up cannot stretch its budget while the
            // entries that matter still warm fully.
            val remain = budget - (System.nanoTime() - w0) / 1e9
            val e0 = System.nanoTime()
            runOnce(n, timed = false,
              deadlineSec = math.min(queryDeadlineSec,
                math.max(40.0, remain + 30.0)),
              cancelSink = cancelled)
            val warmSec = (System.nanoTime() - e0) / 1e9
            if (!cancelled.contains(n)) warmObserved.put(n, warmSec)
            // Per-entry warm wall-time (r16 verdict item 2): when the
            // deadline truncates a warm pass, the log must say what
            // consumed the budget — r16 hit the 100 s deadline having
            // warmed only 68 of 159 entries and nothing recorded why.
            System.err.println(f"[bench] warm $n $warmSec%.1f s (pass " +
              f"${(System.nanoTime() - w0) / 1e9}%.1f/$budget%.0f s)")
            n = if ((System.nanoTime() - w0) / 1e9 < budget) queue.poll()
                else null
          }
        })
      }
      warmThreads.foreach(_.start())
      warmThreads.foreach(_.join())
      (queue.iterator().asScala.toList ++ cancelled.asScala.toList).distinct
    }
    locally {
      val w0 = System.nanoTime()
      // Hard deadline: the concurrent warm-up's wall time is high-
      // variance (observed 46 s to 321 s for the same catalog — eight
      // job-submitting threads can convoy on the DAGScheduler event
      // loop), and an unlucky warm-up must never eat the sweeps'
      // budget. Only the TIMED shard is warmed (round-12: warming the
      // rotation groups that won't be timed this round bought
      // nothing and cost ~30% of the warm-up budget). Entries left
      // un-warmed pay their first-run cost inside sweep 1 once; the
      // cross-sweep lower-median sheds it.
      //
      // The deadline is ADAPTIVE (r16 verdict item 2): the flat 100 s
      // cap left 91 of 159 entries cold in r16, and the cold first
      // runs inside sweep 1 produced a broad 1.3-1.7x elevation band
      // plus one 3.8x driver flag (`multimodal_gif_frames` — profiled
      // at 0.599 s isolated, i.e. the flag was entirely a warm-up
      // artifact). A truncated warm-up does not even save budget: the
      // skipped entries' first-run cost is paid anyway, serially,
      // INSIDE the measured sweep. So give the warm pass every second
      // the sweep arithmetic does not need: reserve restart + settle +
      // quiesce (~75 s), two predicted sweeps (baseline-driven with
      // the same 1.3x headroom as the feasibility check), the
      // inter-sweep gap (~30 s) and 25 s slack; the
      // remainder is the warm budget, floored at the old 100 s and
      // capped at 240 s (~the 8-thread cost of warming a full
      // 236-entry catalog; beyond that a warm pass is soaking up a
      // degraded host, not doing JIT work). Env override wins.
      val warmBudget = sys.env.get("SPARK_GRAFT_WARMUP_BUDGET_SEC")
        .map(_.toDouble).getOrElse {
          val known = timedNames.flatMap(baseKv.get)
          val covered = baselineConfigMatches &&
            known.size >= timedNames.size * 0.9
          // entries absent from the baseline (new this round — the
          // 0.9 gate admits up to 10% of them) still cost two timed
          // runs each; pricing them at ZERO overstated the spare
          // budget by their real sweep cost, so price each uncovered
          // entry at the MEDIAN covered cost instead
          val median =
            if (known.isEmpty) 0.0
            else known.toSeq.sorted.apply(known.size / 2)
          val baseSum = known.sum + (timedNames.size - known.size) * median
          if (covered && baseSum > 0) {
            val reserved = 75.0 + 2 * 1.3 * baseSum + 30.0 + 25.0
            math.max(100.0, math.min(240.0, budgetSec - elapsedSec - reserved))
          } else 100.0
        }
      // Rotation entries warm LAST (r19): when the deadline truncates
      // the pass, the cold tail must be the droppable tier — core and
      // new-this-round entries are what the artifact exists to
      // measure, the rotation slice just has its staleness bounded
      // and can wait a round.
      val rotationSet = rotationSlice.toSet
      val skippedNames = warmConcurrent(timedNames, warmBudget,
        priority = n => if (rotationSet(n)) 1 else 0)
      val skipped = skippedNames.size
      unwarmed = skipped
      // Never time a cold entry (r19, verdict item 2b): the r18 run
      // timed 140 cold entries on a starved host and the artifact
      // measured JIT/IO warm-up, not plans. Entries the warm deadline
      // skipped are dropped from the timed set — a complete warmed
      // 60-entry artifact beats 158 cold timings (the r12 "core-only
      // beats sharded" principle applied to warm-up). BENCH_ALL keeps
      // the old behavior: re-record runs need full coverage and run
      // under an operator-sized budget.
      if (!benchAll && skipped > 0) {
        val dropSet = skippedNames.toSet
        timedNames = timedNames.filterNot(dropSet)
        warmDropped = skipped
        unwarmed = 0
        System.err.println(s"[bench] $skipped un-warmed entries DROPPED " +
          s"from the timed set (never time cold): " +
          skippedNames.sorted.take(12).mkString(",") +
          (if (skipped > 12) ",..." else ""))
      }
      // Second warm pass over the costliest entries when the first
      // pass finished under budget: one warm execution is NOT enough
      // for the codec/kernel-heavy entries — r16's `multimodal_gif_
      // frames` read 3.8x after its cold sweep-1 run failed to warm it
      // for sweep 2, and quiet Profile reps show the same shape
      // (run 2 at 0.76 s vs run 4+ at 0.58 s). Leftover warm budget
      // buys those entries their run-3 warmth where it is untimed.
      val warmRemain = warmBudget - (System.nanoTime() - w0) / 1e9
      // pass-2 cut count is LOGGED (r17 ADVICE): it does not feed
      // `unwarmed` — those entries did warm once — but a
      // partially-completed second pass must be distinguishable from a
      // full one when reconstructing warm-state provenance from the log
      var pass2Cut = 0
      if (skipped == 0 && warmRemain > 25.0) {
        val top = timedNames.sortBy(n => -costRank(n)).take(16)
        pass2Cut = warmConcurrent(top, warmRemain).size
      }
      System.err.println(f"[bench] warm-up sweep ($sfDir, 8 threads, " +
        f"budget $warmBudget%.0f s) " +
        f"${(System.nanoTime() - w0) / 1e9}%.1f s; elapsed $elapsedSec%.1f s" +
        (if (skipped > 0) s"; $skipped entries un-warmed (deadline)" else "") +
        (if (pass2Cut > 0) s"; second warm pass cut $pass2Cut entries " +
          "short (deadline)" else ""))
    }

    // SESSION RESTART, once (round-11 introduced it per-sweep; round-12
    // keeps exactly one, after warm-up): `getPersistentRDDs.unpersist`
    // only drops blocks whose RDDs are still registered — the
    // localCheckpoint / broadcast blocks of ~200 already-finished
    // warm-up executions are dead-but-STRONGLY-HELD by the
    // BlockManager store with the cleaner off, so sweep 1 would start
    // on a nearly-full old gen and heavy entries GC-thrash (observed:
    // a stage with executorRun 112 s of which jvmGCTime 100.7 s,
    // calibration probes all normal). Stopping the context releases
    // the entire store wholesale; what must survive a restart DOES
    // survive: JIT-compiled code and the JVM-static generated-class
    // cache (codegen.cache lives in object CodeGenerator, not the
    // session). Re-planning per entry costs ~0.1-0.3 s, identical for
    // every run. The heap at sweep 1's start is thereby deterministic.
    spark.stop()
    spark = newSession()
    System.gc()
    // Settle pass: the fresh session's first queries absorb its
    // init + compile storm — the r11 run that restarted and then
    // timed cheapest-first showed a consecutive stretch of ~dozen
    // sub-second entries reading 7-14 s each (stage run-time 4x
    // their CPU: task threads waiting out compiler/init threads),
    // and the pre-sweep JIT quiesce can't see it because compilation
    // only STARTS when queries run. Three median-cost entries run
    // untimed first and eat that storm; the extra warmth they gain is
    // what warm-up intends for every entry anyway.
    locally {
      val settle =
        timedNames.sortBy(costRank).drop(timedNames.size / 2).take(3)
      settle.foreach(n =>
        runOnce(n, timed = false, deadlineSec = 15.0))
    }
    // Post-warm budget fit (r19, verdict item 2b): even a fully-warmed
    // timed set can blow the budget on a degraded host — warmed
    // entries on the r18 bandwidth-starved box ran 1.2-2x their
    // baseline, so two sweeps of 158 entries could not fit where the
    // startup arithmetic (healthy-host costs) said they would. Predict
    // the two sweeps per entry from the worse of the baseline cost and
    // what the warm pass just observed and, when they don't fit, drop
    // entries rotation-first / costliest-first until they do. The
    // artifact stays COMPLETE over what it times; "budget_dropped"
    // records what it chose not to cover.
    if (!benchAll && baselineConfigMatches) {
      val known = timedNames.filter(baseKv.contains)
      if (known.size >= timedNames.size * 0.9 && known.nonEmpty) {
        val costs = known.map(baseKv).sorted
        val median = costs(costs.size / 2)
        def cost(n: String): Double = baseKv.getOrElse(n, median)
        // OBSERVED-cost arm (r19 verdict item 1a): divide the 8-way-
        // contended warm wall-time by 3 (healthy contention inflates
        // 2-4x, so /3 ~ solo cost; a stalled 60 s warm still predicts
        // 20 s >> baseline) and take the worse of the baseline and the
        // observed estimate.
        def effCost(n: String): Double = math.max(cost(n),
          Option(warmObserved.get(n)).map(_.doubleValue / 3.0)
            .getOrElse(0.0))
        // 30 s overhead: pre-sweep quiesce + the inter-sweep
        // unpersist/gc/quiesce gap
        def fits(set: Seq[String]): Boolean =
          elapsedSec + 30.0 + 2 * 1.3 * set.map(effCost).sum <=
            budgetSec
        if (!fits(timedNames)) {
          val rotationSet = rotationSlice.toSet
          val kept = shrinkToBudget(timedNames,
            isCore = n => !rotationSet(n), cost = effCost, fits = fits)
          budgetDropped = timedNames.size - kept.size
          System.err.println(f"[bench] predicted 2-sweep cost exceeds " +
            f"remaining budget (elapsed " +
            f"$elapsedSec%.0f/$budgetSec%.0f s): dropping $budgetDropped " +
            f"entries (rotation-first) -> ${kept.size} timed")
          timedNames = kept
        }
      }
    }
    // JIT quiesce, ADAPTIVE (round-11): the concurrent warm-up
    // generates hundreds of whole-stage-codegen classes and queues
    // them for C2; if sweep 1 starts while 16 compiler threads are
    // still chewing the queue, entries run partially INTERPRETED on a
    // compiler-taxed machine (observed: one session's sweep 1 at
    // 286 s vs another's 114 s, same code, same coverage — slow
    // entries showing the same stages at ~10x CPU). Wait until the
    // JVM's total compilation time stops advancing (<400 ms of
    // compiler work across a 2 s window, 3 windows in a row), capped
    // — time spent here is untimed and buys back multiples of itself
    // inside the sweep.
    def jitQuiesce(capSec: Double): Unit = {
      Thread.sleep(4000) // GC/unpersist settling
      val mx = java.lang.management.ManagementFactory.getCompilationMXBean
      if (mx == null || !mx.isCompilationTimeMonitoringSupported)
        Thread.sleep(8000)
      else {
        val q0 = System.nanoTime()
        var prev = mx.getTotalCompilationTime
        var quiet = 0
        while (quiet < 3 && (System.nanoTime() - q0) / 1e9 < capSec) {
          Thread.sleep(2000)
          val cur = mx.getTotalCompilationTime
          if (cur - prev < 400) quiet += 1 else quiet = 0
          prev = cur
        }
        System.err.println(f"[bench] JIT quiesce wait " +
          f"${(System.nanoTime() - q0) / 1e9}%.1f s")
      }
    }

    val samples = scala.collection.mutable.Map.empty[String, List[Double]]
    var sweepsCompleted = 0
    var partial = false
    var lastSweepSec = 0.0
    // Warm-sweep cost predictor for the pre-sweep feasibility check.
    // BASELINE-driven, not last-sweep-driven (round-12): sweep 1
    // absorbs the first-run cost of every entry the warm-up deadline
    // skipped (~1.4 s/entry observed, much more for heavies), so
    // `1.2 x lastSweepSec` over-predicts a WARM sweep 2 by 2-3x and
    // cancelled runs that had ample budget (the full-catalog
    // shakedown: sweep 1 cold 344 s, warm sweep cost ~110 s, 345 s
    // remaining — stopped). A warm sweep's best predictor is the
    // baseline's per-entry sum over the timed set with 1.3x headroom;
    // falls back to 1.2 x last sweep when the baseline doesn't cover
    // the timed set (pre-re-record artifacts, BENCH_ALL runs on a
    // stale baseline).
    def predictNextSweepSec(): Double = {
      val baseSum = timedNames.flatMap(baseKv.get).sum
      val covered = baselineConfigMatches &&
        timedNames.count(baseKv.contains) >= timedNames.size * 0.9
      if (covered && baseSum > 0) 1.3 * baseSum
      else lastSweepSec * 1.2
    }
    val sweepLoop = new scala.util.control.Breaks
    sweepLoop.breakable {
      for (s <- 1 to Sweeps) {
        // Pre-sweep feasibility FIRST (round-12 review fix): the
        // inter-sweep unpersist + gc + quiesce costs ~20-35 s — paying
        // it for a sweep the check then cancels wastes exactly the
        // budget the check exists to protect, and the overhead term
        // below accounts for the quiesce that follows a GO decision,
        // not one already spent. Starting a sweep that cannot finish
        // only produces an alphabetically-biased partial — if the next
        // sweep's predicted cost doesn't fit in the remaining budget,
        // stop cleanly with the sweeps already collected (r11: sweep 3
        // was started with 97 s left against an 89.5 s previous sweep
        // and overran the budget mid-sweep — a partial artifact where
        // stopping at 2 clean sweeps was strictly better).
        if (s > 1) {
          val estNext = predictNextSweepSec()
          // 20 s overhead term: the inter-sweep gc + quiesce (≤ 19 s)
          if (elapsedSec + 20.0 + estNext > budgetSec) {
            System.err.println(f"[bench] remaining budget " +
              f"${budgetSec - elapsedSec}%.0f s < overhead + predicted " +
              f"sweep ($estNext%.0f s): stopping after " +
              f"$sweepsCompleted sweeps")
            sweepLoop.break()
          }
        }
        if (s == 1) jitQuiesce(60.0)
        else {
          // Between sweeps: drop sweep 1's checkpoint blocks (serial
          // context — safe, unlike during the concurrent warm-up),
          // collect, and a SHORT quiesce (sweep 1 compiled everything
          // already; only stragglers remain).
          spark.sparkContext.getPersistentRDDs.values
            .foreach(_.unpersist(blocking = false))
          System.gc()
          jitQuiesce(15.0)
        }
        val sw0 = System.nanoTime()
        // Budget shard (round-11): the `*_portable` verification twins
        // exist only to hash-oracle the sketch entries — their md5-as-
        // string cost is verification overhead, excluded from every
        // throughput ratio already. Timing them once (sweep 1) keeps
        // their numbers in the artifact while the repeat sweeps spend
        // the budget on production entries only.
        // CHEAPEST-FIRST sweep order (round-11): a budget-death mid-
        // sweep used to leave an alphabetical prefix — the dedup_*
        // heavies — as the whole partial sample (r11: a 30-entry
        // partial read 9.3x on cold cluster entries alone). Cheap
        // entries first maximizes per-entry coverage per unit budget;
        // heavies still run at the sweep's end, a COMPLETED sweep
        // times the identical set either way, and a partial stays
        // marked partial.
        val sweepNames = timedNames.filter(n => s == 1 || !verificationOnly(n))
          .sortBy(costRank)
        val inner = new scala.util.control.Breaks
        inner.breakable {
          for (n <- sweepNames) {
            if (elapsedSec > budgetSec) {
              partial = true
              System.err.println(f"[bench] budget $budgetSec%.0f s exceeded " +
                f"at $elapsedSec%.1f s (sweep $s, query $n): emitting partial result")
              inner.break()
            }
            // Tail-entry deadline clamp (r19 verdict item 1c): one
            // expensive entry near the budget edge must not overrun
            // the whole run (r19's driver artifact: a 120 s deadline
            // sample inside the 470 s budget contributed to 0
            // completed sweeps). The per-entry deadline shrinks toward
            // the remaining budget, floor 20 s so a healthy heavy
            // entry still finishes; a clamped cancellation lands in
            // `deadlined` and is therefore ratio-excluded.
            val clamp = math.min(queryDeadlineSec,
              math.max(20.0, budgetSec - elapsedSec - 10.0))
            samples(n) = runOnce(n, timed = true, deadlineSec = clamp) ::
              samples.getOrElse(n, Nil)
            // NO per-query unpersist here: spreading the cleaner's RPCs
            // through the sweep cost ~100 s/sweep of untimed gaps; the
            // between-sweep unpersist + gc absorbs the same work where
            // nothing is being timed.
          }
        }
        if (partial) sweepLoop.break()
        sweepsCompleted += 1
        lastSweepSec = (System.nanoTime() - sw0) / 1e9
        System.err.println(f"[bench] sweep $s " +
          f"$lastSweepSec%.1f s; elapsed $elapsedSec%.1f s")
      }
    }
    // Lower-median over however many samples survived the budget (= min
    // for the standard 2-sweep run — the warmed-up reading, biased
    // against one-off noise). A -1.0 (hard failure) in ANY sweep
    // publishes -1.0: a load-sensitive crash must surface, never be
    // shed with the noise.
    val results = names.flatMap { n =>
      samples.get(n).map { t =>
        n -> (if (t.contains(-1.0)) -1.0 else t.sorted.apply((t.length - 1) / 2))
      }
    }

    // Counters: once the bus has settled, take every run's job group.
    // An entry keeps its last timed run's counters; untimed runs (warm,
    // settle) are taken and dropped. A bus that does not drain costs
    // the counters, never the artifact.
    try RunMetrics.settle(spark, rec)
    catch { case e: Exception =>
      System.err.println(s"[bench] metrics incomplete: ${e.getMessage}") }
    val metrics = scala.collection.mutable.Map.empty[String, RunMetrics.Step]
    runs.asScala.foreach { case (n, group, sec, timed) =>
      val step = rec.take(group)
      if (timed) {
        metrics(n) = step
        if (sec >= 3.0)
          System.err.println(s"[bench] slow $n ${math.rint(sec * 10) / 10} s: " +
            step.slow.mkString("; "))
      }
    }
    val singleTask = metrics.collect { case (n, m) if m.singleTask > 0 => n }
    // Deadlined samples are lower bounds of runs that never finished:
    // they stay in "queries" but are kept out of vs_baseline.
    val ratioExcluded: Set[String] = deadlined.asScala.toSet
    if (ratioExcluded.nonEmpty)
      System.err.println(s"[bench] ${ratioExcluded.size} deadlined " +
        s"entries EXCLUDED from vs_baseline: " +
        ratioExcluded.toSeq.sorted.mkString(","))

    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    val prod = results.collect {
      case (k, v) if v >= 0 && !verificationOnly(k) => v }.sum
    // vs-baseline ratio over the PRODUCTION queries present in BOTH
    // records, so adding a catalog entry can't masquerade as a
    // regression and the md5-portable verification twins can't dilute
    // an engine-throughput ratio. Emitted only when the run's config
    // matches what the baseline recorded: exact sf dir (a substring
    // test would match sf0.12 against the sf0.1 record) and the same
    // core/shuffle-partition count (a local[4] run against a local[32]
    // record would compare different parallelism).
    val vsBaseline: Option[Double] =
      if (!baselineConfigMatches) None
      else {
        val shared = results.collect {
          case (k, v) if v >= 0 && baseKv.contains(k) &&
            !verificationOnly(k) && !ratioExcluded(k) => (v, baseKv(k)) }
        val baseSum = shared.map(_._2).sum
        if (baseSum > 0) Some(shared.map(_._1).sum / baseSum) else None
      }
    def num(x: Double): Double = math.rint(x * 1000) / 1000
    // Per-entry outliers, pre-digested: entries reading >= 3x their
    // baseline AND >= 1 s absolute — the rows a cross-round reader
    // would otherwise have to dig out of the 130+-entry queries map
    // by hand.
    val regressions = results.collect {
      case (k, v) if baselineConfigMatches && v >= 1.0 &&
          baseKv.get(k).exists(b => b > 0 && v / b >= 3.0) =>
        s"""{"q":"$k","sec":${num(v)},""" +
          s""""base":${baseKv(k)}}"""
    }
    def strArr(xs: Iterable[String]): String =
      xs.toSeq.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    // "metrics" sits right after "queries": the driver keeps only a
    // suffix of a long line, and the rotation fields must stay in it.
    val metricsJson = metrics.toSeq.sortBy(_._1).map { case (n, m) =>
      s""""$n":{"jobs":${m.jobs},"stages":${m.stages},"tasks":${m.tasks},""" +
        s""""shuffle_read_bytes":${m.shufR},"shuffle_write_bytes":${m.shufW},""" +
        s""""spill_bytes":${m.spill},"cpu_s":${num(m.cpuNs / 1e9)},""" +
        s""""gc_s":${num(m.gcMs / 1e3)},"single_task":${m.singleTask}}"""
    }.mkString("{", ",", "}")
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,""" +
        s""""metrics":$metricsJson,""" +
        s""""production_sec":$prod,"verification_sec":${total - prod},""" +
        s""""partial":$partial,"sweeps_completed":$sweepsCompleted,""" +
        s""""unwarmed":$unwarmed,""" +
        s""""warm_dropped":$warmDropped,""" +
        s""""budget_dropped":$budgetDropped,""" +
        s""""timed":${timedNames.size},"catalog":${names.size},""" +
        s""""round":$roundIdx,""" +
        s""""rotation_group":$rotationG,"rotation_k":$rotationK,""" +
        s""""rotation_timed":${rotationSlice.forall(samples.contains)},""" +
        s""""rotation_age":$rotAge,""" +
        s""""single_task":${strArr(singleTask)},""" +
        s""""regressions":${regressions.mkString("[", ",", "]")},""" +
        s""""deadlined":${strArr(deadlined.asScala)}""" +
        vsBaseline.map(r => s""","vs_baseline":${num(r)}""").getOrElse("") +
        s""","sf":"$sfDir"}"""
    println(line)
    Files.writeString(Paths.get("bench_out.json"), line)
    spark.stop()
  }
}
