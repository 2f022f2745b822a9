package graft
import org.apache.spark.sql.SparkSession
object Bench {
  /** Artifact-of-record routing, pure so BenchArtifactSpec can pin
    * every branch (the consequences of a wrong branch are a round's
    * permanent record — see the BASELINE.md §"measurement protocol"
    * history of near-misses this encodes):
    * returns (detail file path, Some(divert reason to warn about)).
    * Canonical = the driver's per-round scale, /root/testdata/sf0.1,
    * EXACTLY, at the driver's main core count (32) — a clean run at
    * any other dir (even another testdata scale) or any other core
    * count writes a suffixed file. The cpus key is the round-14
    * lesson: the driver's 8-core scaling leg compared itself against
    * the 32-core record, read as "drift" (every query legitimately
    * slower at 8 cores), and its divert CLOBBERED the real
    * drift-adjudication artifact `BENCH_detail_drift.json`; keying
    * both the artifact name and the guard priors on (sf, cpus) makes
    * a low-core leg a first-class capture with its own record and
    * its own priors. Within a canonical run, a subset /
    * error-bearing / contended capture each divert to their own
    * file so `BENCH_detail.json` only ever holds a full, clean,
    * guard-quiet 32-core sf0.1 capture. An env override routes
    * anywhere silently (deliberate, not a divert). */
  private[graft] def detailRoute(sfDir: String, cpus: Int, subset: Boolean,
      hasErrors: Boolean, hasContended: Boolean, hasDrift: Boolean,
      envOverride: Option[String]): (String, Option[String]) = {
    val divert =
      if (subset) Some("subset" -> "partial")
      else if (hasErrors) Some("errors" -> "errors")
      else if (hasContended) Some("contended" -> "contended")
      else if (hasDrift) Some("drift" -> "drift")
      else None
    val canonical = sfDir == "/root/testdata/sf0.1"
    // non-canonical corpora compose BOTH suffixes (round-12 fix: a
    // subset/errored run at another dir used to silently clobber that
    // dir's full clean record under the same name)
    val dirBase =
      if (canonical) "BENCH_detail"
      else "BENCH_detail_" +
        java.nio.file.Paths.get(sfDir).getFileName.toString
          .replaceAll("[^A-Za-z0-9._-]", "_")
    // non-main core counts get their own record (and their own
    // variance/drift priors — see scaladoc): an 8-core capture is
    // comparable only to another 8-core capture
    val base = if (cpus == MainCpus) dirBase else s"${dirBase}_c$cpus"
    val path = envOverride.getOrElse(
      divert.fold(base + ".json")(d => s"${base}_${d._2}.json"))
    (path, if (envOverride.isEmpty) divert.map(_._1) else None)
  }

  /** Median of current/prior per-query time ratios over the shared
    * query set (prior ≥ `floor` — sub-50 ms priors are scheduler
    * noise, not signal). None when fewer than `minShared` queries are
    * comparable — a subset run or a format drift must not produce a
    * confident-looking median from three points. This is the
    * CAPTURE-LEVEL drift guard: the per-query 2× variance guard is
    * blind to a uniform ~1.5× whole-window slowdown (round 11 passed
    * one into the official record — 30 shared queries at 1.5–2.4×,
    * each individually under 2×), so the capture as a whole is gated
    * on the median shared ratio staying ≤ [[DriftMax]]. */
  private[graft] def medianRatio(cur: Map[String, Double],
      prior: Map[String, Double], floor: Double = 0.05,
      minShared: Int = 20): Option[Double] = {
    val ratios = cur.flatMap { case (k, v) =>
      prior.get(k).filter(_ >= floor).map(p => v / p) }.toSeq.sorted
    if (ratios.size < minShared) None
    else Some(
      if (ratios.size % 2 == 1) ratios(ratios.size / 2)
      else (ratios(ratios.size / 2 - 1) + ratios(ratios.size / 2)) / 2)
  }

  /** A capture whose shared-median ratio vs the prior official record
    * exceeds this is host drift, not engine change: diverted like a
    * contended run. A REAL engine-wide regression would also trip it —
    * that is the desired behavior (it forces a quiet-host rerun and,
    * if it reproduces, an explicit BASELINE.md adjudication + env-
    * override write rather than a silent record shift). */
  private[graft] val DriftMax = 1.15

  /** The driver's MAIN per-round core count — the artifact of record
    * is captured at this parallelism; any other `SPARK_GRAFT_CPUS`
    * (the driver's low-core scaling leg runs 8) routes to a
    * `_c<cpus>`-suffixed detail file with its own priors. */
  private[graft] val MainCpus = 32

  @volatile private var canarySink = 0L
  /** Host-speed canary: a fixed, engine-independent CPU probe
    * (300M-iteration xorshift fold, min-of-3) stamped into the detail
    * artifact as `canary_sec`. Future rounds separate machine-family
    * drift from engine drift numerically (r11 needed solo-rerun
    * forensics to conclude "the +9% was the host"): if total_sec and
    * canary_sec move together, it's the machine. Pure JVM arithmetic —
    * no Spark, no allocation, no I/O — so it prices exactly the
    * single-thread CPU the per-query mins ride on. */
  private[graft] def canary(): Double = {
    def pass(): Double = {
      val t0 = System.nanoTime()
      var x = 0x9e3779b97f4a7c15L
      var i = 0
      while (i < 300000000) {
        x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1
      }
      canarySink = x // defeat dead-code elimination
      (System.nanoTime() - t0) / 1e9
    }
    (1 to 3).map(_ => pass()).min
  }

  /** PARALLEL-throughput canary (round 14): a fixed 32-partition
    * shuffle+aggregate, min-of-2, stamped as `pcanary_sec`. Every
    * r13/r14 drift adjudication decomposed the same way — "parallel
    * window 1.15–1.35× slow at a near-flat CPU canary" — but that
    * decomposition was always INFERRED from the query medians, never
    * measured independently: [[canary]] is single-threaded by design
    * and blind to scheduler/IO/SMT degradation across 32 threads.
    * This probe prices exactly that window with engine-fixed work
    * (64M-row range → modulo key → hash-agg → one shuffle), so a
    * future divert can say numerically whether the host's parallel
    * family moved (pcanary up, canary flat), its CPU family moved
    * (both up), or the engine regressed (queries up, both canaries
    * flat). Spark-version-dependent, but the record and its
    * challengers always run the same jar. */
  private[graft] def parallelCanary(spark: SparkSession): Double = {
    def pass(): Double = {
      val t0 = System.nanoTime()
      spark.range(0L, 64000000L, 1L, 32)
        .selectExpr("id % 1000000 AS k")
        .groupBy("k").count()
        .selectExpr("sum(count)").collect()
      (System.nanoTime() - t0) / 1e9
    }
    (1 to 2).map(_ => pass()).min
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.defaultCpus
    val spark = GraftSession.local(cpus)
    // warm codegen/JIT infrastructure so the first timed query isn't
    // charged for JVM startup; touch one parquet footer so the
    // alphabetically-first query isn't charged for reader/codec init
    // either (data itself stays cold — 1 row, limit pushed down)
    spark.range(1000000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/region.parquet").limit(1).collect()
    // host-speed canaries AFTER the JIT warm (their own passes warm
    // their loops) and BEFORE any timed query — the numbers must
    // price the host, not share a window with engine work
    val canarySec = canary()
    val pcanarySec = parallelCanary(spark)
    // stable order + cache isolation: operators that persist
    // intermediates (LSH) must not squeeze later queries' memory.
    // SparkEntry.release runs OUTSIDE the timed window — a query must not be
    // charged for tearing down its own caches.
    // CONTENTION DEFENSE: each query runs `passes` times (default 2)
    // and reports the MIN. The round-4 official artifact recorded
    // 4-7x phantom regressions on single-pass timings (q61 6.47 s vs
    // a judge rerun's 0.94 s) — one noisy driver-side neighbor during
    // a query's only pass poisons the round's permanent record. The
    // min of two passes is immune to any one-pass stall, and the min
    // (not mean/median) is the right statistic here: external
    // contention only ever ADDS time. All queries are rerun-safe
    // (overwrite-mode writes, temp views dropped before start).
    val passes = sys.env.getOrElse("SPARK_GRAFT_PASSES", "2").toInt.max(1)
    // VARIANCE GUARD (round-8 lesson: q24's official 10.84 s was a
    // contention phantom — the true time was 2.04 s, and min-of-3
    // didn't protect it because the whole capture window was
    // contended). Reference = the PRIOR round's committed
    // BENCH_detail.json, read before this run overwrites it, and only
    // when it measured the same sf dir. A query whose min-of-N
    // exceeds 2× its prior time (prior ≥ 0.3 s — sub-300ms deltas are
    // scheduler noise) gets ONE extra pass whose time JOINS the
    // min-of-N (the reported number is still an honest min over all
    // passes — the guard can therefore lower it, never raise it); if
    // the min still exceeds 2× prior the query is listed under
    // "contended" in the detail file.
    // prior keyed on (sf, cpus): the guard prior for this run is the
    // clean detail file this run WOULD write (BENCH_detail.json at
    // 32 cores, BENCH_detail_c8.json at 8, ...). An 8-core leg must
    // never be judged against — nor overwrite — the 32-core record
    // (round-14: the driver's 8-core run drift-diverted against the
    // 32-core prior and clobbered BENCH_detail_drift.json).
    val (cleanDetailPath, _) =
      detailRoute(sfDir, cpus, false, false, false, false, None)
    val priorRef: Map[String, Double] = try {
      val p = java.nio.file.Paths.get(cleanDetailPath)
      if (java.nio.file.Files.exists(p)) {
        val txt = java.nio.file.Files.readString(p)
        val sfRe = """"sf":\s*"([^"]+)"""".r
        // legacy records carry no "cpus" field; they were all captured
        // at the main core count, so missing == MainCpus
        val priorCpus = """"cpus":\s*(\d+)""".r
          .findFirstMatchIn(txt).map(_.group(1).toInt).getOrElse(MainCpus)
        val sameSf = sfRe.findFirstMatchIn(txt).exists(_.group(1) == sfDir) &&
          priorCpus == cpus
        val idx = txt.indexOf("\"queries_sec\"")
        val m =
          if (sameSf && idx >= 0)
            """"(q[^"]+)":\s*([0-9.]+)""".r.findAllMatchIn(txt.substring(idx))
              .map(m => m.group(1) -> m.group(2).toDouble).toMap
          else Map.empty[String, Double]
        // a same-sf detail file whose queries_sec yields no entries
        // means the format drifted — fail LOUD so the guard's silent
        // no-op can't masquerade as "no prior regressions"
        if (sameSf && idx >= 0 && m.isEmpty)
          System.err.println(
            "[bench] WARNING: BENCH_detail.json matched sf but parsed 0 " +
              "prior times - detail format drift? variance guard inactive")
        // an INCOMPLETE prior record (queries registered after its
        // capture, the r12 blind spot — q478/q479 carried no prior for
        // a full round and only a BASELINE.md note said so): surface
        // it machine-side so the operator re-captures deliberately
        def intField(key: String): Option[Int] =
          ("\"" + key + "\":\\s*(\\d+)").r
            .findFirstMatchIn(txt).map(_.group(1).toInt)
        for (nq <- intField("n_queries"); nr <- intField("n_registered")
             if sameSf && nr > nq)
          System.err.println(s"[bench] NOTE: prior record is INCOMPLETE " +
            s"($nq of $nr registered queries at its capture time) - " +
            s"${nr - nq} queries carry no variance-guard prior; land a " +
            "full guard-clean capture to close the gap")
        m
      } else Map.empty[String, Double]
    } catch { case _: Throwable => Map.empty[String, Double] }
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      // optional subset for local iteration: SPARK_GRAFT_ONLY=q35,q36.
      // The BASELINE.md solo-rerun adjudication protocol depends on a
      // one-query run actually being one query
      .filter { case (name, _) => SparkEntry.picked(name) }
      .map { case (name, fn) =>
        def onePass(): (Double, Option[String]) = {
          val t0 = System.nanoTime()
          // a failing query must poison the bench output, not shrink
          // it: its time is excluded and the total goes to -1 below
          val err = try { fn(spark, sfDir).count(); None } catch {
            case e: Throwable => Some(Option(e.getMessage).getOrElse(e.getClass.getName))
          }
          val dt = (System.nanoTime() - t0) / 1e9
          SparkEntry.release(spark)
          (dt, err)
        }
        // an erroring first pass is not retried (a deterministic
        // failure would just double the error's cost); a later-pass
        // error keeps the successful pass's time — one green count()
        // already proved the query runs, and min-of-successes is the
        // statistic being reported
        val (dt1, err1) = onePass()
        val (dt2, err) =
          if (err1.isDefined || passes == 1) (dt1, err1)
          else (2 to passes).foldLeft((dt1, err1)) { case ((best, _), _) =>
            val (d, e) = onePass()
            (if (e.isEmpty) math.min(best, d) else best, None)
          }
        // heavy-tail de-noising: a query still ≥2 s after min-of-2
        // gets ONE extra pass — the big line items are where a single
        // contended pass distorts the round's record the most, and
        // the extra cost is bounded by the tail's own size
        val dt =
          if (err.isEmpty && passes == 2 && dt2 >= 2.0)
            math.min(dt2, { val (d, e) = onePass(); if (e.isEmpty) d else dt2 })
          else dt2
        // variance guard: one extra pass when >2× the prior round's
        // same-sf time; annotate (never rewrite) if it persists
        val ref = priorRef.getOrElse(name, 0.0)
        val (dtG, contended) =
          if (err.isEmpty && ref >= 0.3 && dt > 2 * ref) {
            val (d, e) = onePass()
            val best = if (e.isEmpty) math.min(dt, d) else dt
            (best, best > 2 * ref)
          } else (dt, false)
        (name, dtG, err, contended)
      }
    def jstr(s: String): String = SparkEntry.jsonString(s)
    // The harness keeps only the LAST ~2000 chars of this program's
    // output; a line longer than that loses its head (round-3 artifact
    // had parsed:null for exactly this reason). Keep the whole line
    // well under the window: per-query keys are the stable qNN id
    // (full names live in SparkEntry.queries / CORRECTNESS json) and
    // times are rounded to milliseconds.
    def qid(name: String): String = name.takeWhile(_ != '_')
    def ms(v: Double): String = "%.3f".formatLocal(java.util.Locale.US, v)
    val ok = results.collect { case (n, dt, None, _) => (n, dt) }
    val errs = results.collect { case (n, _, Some(m), _) => (n, m.take(120)) }
    val contended = results.collect { case (n, _, None, true) => n }
    // capture-level drift guard (round-12): the median shared-query
    // ratio vs the prior official record — a uniform whole-window
    // slowdown that slips under the per-query 2× guard still diverts
    // the capture. priorRef is already same-sf-only, so off-corpus
    // runs never produce a ratio (None ⇒ guard inactive, honestly).
    val sharedMedian = medianRatio(ok.toMap, priorRef)
    val hasDrift = sharedMedian.exists(_ > DriftMax)
    // the guard is deliberately one-sided (only slow captures divert)
    // but a suspiciously FAST capture is flagged: if it becomes the
    // record, every normal-host capture afterwards reads ~1.1-1.2x
    // and diverts indefinitely until a manual BASELINE.md
    // adjudication (ADVICE r12). Warn, don't divert - a genuinely
    // faster engine must still be able to set a new record.
    sharedMedian.filter(_ < 1.0 / DriftMax).foreach { r =>
      System.err.println(f"[bench] NOTE: shared-median ratio $r%.3f < " +
        f"${1.0 / DriftMax}%.3f - anomalously fast vs the prior record " +
        "(fast host or real speedup). If committed as the record, note " +
        "the canary_sec pair in BASELINE.md so later normal-host " +
        "captures reading ~1.1-1.2x are not misread as drift.")
    }
    val qs = ok.map { case (k, v) => jstr(qid(k)) + ":" + ms(v) }
      .mkString("{", ",", "}")
    val total = if (errs.nonEmpty) -1.0 else ok.map(_._2).sum
    val errJson = errs.map { case (k, m) => jstr(qid(k)) + ":" + jstr(m) }
      .mkString("{", ",", "}")
    // The stdout window truncates the per-query map itself
    // (BENCH_r07 kept 142 of 317 entries) — ALSO write the full map
    // as a repo file so every round's per-query history is durable.
    // Full names (not qNN ids), one key per line for clean git diffs.
    // The detail write (and any guard-divert diagnostics it prints)
    // runs BEFORE the contract JSON lines below: every BENCH_r*.json
    // since r11 recorded parsed:null because the divert notice landed
    // on stderr AFTER the contract line and the driver's parser took
    // the last non-sbt output line (VERDICT r14 item 2). The one-line
    // JSON must be the program's LAST output, diverted run or not.
    try {
      val detail = new StringBuilder
      detail ++= "{\n"
      detail ++= s"""  "sf": ${jstr(sfDir)},\n"""
      detail ++= s"""  "total_sec": ${ms(total)},\n"""
      detail ++= s"""  "n_queries": ${ok.size},\n"""
      // registered-query count at capture time: a record whose
      // n_queries < n_registered is machine-detectably incomplete
      // (r12: q478/q479 postdated the guard-clean capture and nothing
      // in the artifact said so - only a BASELINE.md note did)
      detail ++= s"""  "n_registered": ${SparkEntry.queries.size},\n"""
      // core count at capture time: the variance/drift guard priors
      // are only valid between same-cpus captures (see detailRoute)
      detail ++= s"""  "cpus": $cpus,\n"""
      detail ++= s"""  "canary_sec": ${ms(canarySec)},\n"""
      detail ++= s"""  "pcanary_sec": ${ms(pcanarySec)},\n"""
      detail ++= s"""  "shared_median_ratio": ${
        sharedMedian.fold("null")(ms)},\n"""
      detail ++= s"""  "errors": {""" + errs.map { case (k, m) =>
        s"\n    ${jstr(k)}: ${jstr(m)}" }.mkString(",") +
        (if (errs.isEmpty) "},\n" else "\n  },\n")
      // queries still >2× their prior-round time after the guard's
      // extra pass — times above are honest mins, these are suspect
      detail ++= s"""  "contended": [""" +
        contended.map(jstr).mkString(", ") + "],\n"
      detail ++= s"""  "queries_sec": {""" + ok.map { case (k, v) =>
        s"\n    ${jstr(k)}: ${ms(v)}" }.mkString(",") + "\n  }\n}\n"
      // ARTIFACT-OF-RECORD RULE (round-9 lesson: a later contended
      // re-capture sat in the working tree over the committed clean
      // 246.4 s official run, reading as a phantom +13% regression):
      // BENCH_detail.json — the file the next round's variance guard
      // and any reader diffs — may only be written by a FULL-suite,
      // variance-guard-CLEAN run. A run with a non-empty "contended"
      // list writes BENCH_detail_contended.json instead; a
      // SPARK_GRAFT_ONLY subset run writes BENCH_detail_partial.json
      // (it would otherwise shrink the record to the subset). The
      // protocol is documented in BASELINE.md.
      // routing rationale on detailRoute's scaladoc; warn on ANY
      // divert, canonical dir or not (round-12 behavior, pinned by
      // BenchArtifactSpec: a subset/errored/contended run at a
      // non-canonical corpus also diverts, composing both suffixes —
      // only an env override is silent, being deliberate)
      val (detailPath, divertWhy) = detailRoute(sfDir, cpus,
        sys.env.contains("SPARK_GRAFT_ONLY"), errs.nonEmpty, contended.nonEmpty, hasDrift,
        sys.env.get("GRAFT_BENCH_DETAIL"))
      divertWhy.foreach { why =>
        System.err.println(s"[bench] $why run - detail diverted " +
          s"to $detailPath; the artifact of record is " +
          "left untouched." + (why match {
            case "contended" =>
              " Rerun on a quiet machine for an official capture."
            case "drift" =>
              f" Shared-median ratio ${sharedMedian.getOrElse(0.0)}%.3f > " +
                f"$DriftMax - whole-window host drift (or a real engine-" +
                "wide regression: rerun quiet; if it reproduces, " +
                "adjudicate in BASELINE.md)."
            case _ => ""
          }))
      }
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(detailPath), detail.toString)
    } catch { case e: Throwable =>
      System.err.println(s"[bench] detail write failed: ${e.getMessage}")
    }
    // the streaming queries above leave the state-store maintenance
    // thread running; if it fires after SparkEnv is torn down it
    // stamps a "SparkEnv not active" WARN + stack trace into every
    // otherwise-green bench log. Unload all stores (which cancels the
    // maintenance task) BEFORE stopping the session.
    try org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    catch { case _: Throwable => () }
    spark.stop()
    // contract JSON LAST (see the detail-write comment above): after
    // spark.stop() nothing else writes to either stream, so the short
    // line below is the final line the driver sees before sbt's own
    // footer. Flush stderr first so an interleaving consumer cannot
    // order a pending guard notice after the contract line.
    System.err.flush()
    println(s"""{"metric":"total","value":${ms(total)},"unit":"sec","queries":$qs,"errors":$errJson,"sf":"$sfDir"}""")
    // The harness window keeps only the TAIL of stdout; at 206
    // queries the per-query line overflows it and loses its head
    // (BENCH_r06 recorded parsed:null — the total was unrecoverable).
    // This trailing short line always survives the window, so the
    // round's permanent record carries the total even when the
    // per-query map is truncated.
    println(s"""{"metric":"total","value":${ms(total)},"unit":"sec","n":${ok.size},"errors":${errs.size},"sf":"$sfDir"}""")
    System.out.flush()
  }
}
