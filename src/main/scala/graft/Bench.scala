package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line
  * `{"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...}`.
  *
  * Each query runs once as WARMUP (JIT, codegen compilation, shuffle-file
  * allocation) and then three timed runs; the reported number is the
  * MEDIAN. Single-shot timings in a shared JVM swung up to 6× between
  * rounds on unchanged queries, which made per-query comparisons
  * uninterpretable — the median of three warmed runs is stable enough to
  * attribute changes to plans rather than to the JIT.
  *
  * FRESH JVM PER FAMILY (since round 11): a full 102-query suite in one
  * JVM inflated late-alphabet queries 15-25% vs isolated runs even with
  * per-rep GC and zero external CPU — classic JVM aging: JIT profile
  * pollution at Spark's megamorphic call sites (every query's generated
  * classes retrain the same InternalRow/TreeNode call sites), code-cache
  * fill/flushing churn, and metaspace growth. None of that is fixable
  * in-process, so the suite main now ORCHESTRATES: queries are split
  * into alphabetical families of [[FamilySize]] and each family runs in
  * a freshly spawned child JVM (same classpath and JVM flags as the
  * parent, env-inherited), so no query is ever more than FamilySize
  * queries deep into a JVM's life and suite numbers match isolated runs.
  * Cost: one JVM + SparkSession startup per family (~5 s, outside the
  * timed windows). `SPARK_GRAFT_BENCH_FORK=0` forces the old
  * single-JVM in-process suite (the A/B lever for measuring the aging
  * itself); `SPARK_GRAFT_BENCH_ONLY` subsets always run in-process.
  * Each child writes its own detail file; the parent merges them into
  * the usual artifact shape plus a `children` forensic section and
  * re-prints the single compact stdout line. A child that exits nonzero
  * has its family re-run in-process by the parent (fail-open — the
  * artifact then carries the aging bias for that family, flagged in
  * `child_exits`).
  *
  * The bench evidence is built to be TRUSTWORTHY AS AN ARTIFACT, not
  * just a number: a prior round's driver run recorded a 6× skew on two
  * queries that two clean paired re-runs could not reproduce —
  * environmental load, invisible in the artifact itself. The evidence
  * (per-query warm + every timed run, before/after /proc/loadavg, a
  * `tainted` flag with the foreign-JVM pid list sampled per query, and
  * per-query post-run JVM memory occupancy `mem` = [codeCacheMB,
  * metaspaceMB, oldGenMB]) is written to `bench_detail.json` in the
  * working directory, and the stdout line stays COMPACT: headline total,
  * median total, query count, taints, and the detail pointer — NO
  * per-query map. Round 8 carried the full runs evidence inline (~12 KB)
  * and rounds 9-15 carried the per-query map (~5-6 KB at 194 queries);
  * both outran the driver's ~2 KB stdout tail capture, so the artifact
  * recorded `parsed: null` every round — a short line that parses beats
  * a complete line that is truncated. All times round to ms; the noise
  * floor is far above 1 ms and full 17-digit doubles tripled the line
  * length.
  *
  * MEASUREMENT BASIS (since round 9): queries are forced via
  * `queryExecution.toRdd.count()` — full materialization of every output
  * column. The previous `.count()` basis let Catalyst prune projections
  * and eliminate unique-key left joins above the timed work, so
  * projection-heavy queries reported scan-only times; numbers before and
  * after this round are NOT comparable for such queries (expect an honest
  * upshift), and round-over-round comparisons restart from the r9 line.
  *
  * HEADLINE = MIN-OF-REPS (since round 10): the round-9 artifact was
  * captured under ~3.9 ambient loadavg and the foreign-JVM taint flag
  * did not trip (the load was not another `java` process) — the medians
  * absorbed ~20% contention (125.3 s committed vs 103.6 s quiet). The
  * min of the timed reps is the least-contended observation of the same
  * plan, so the headline `queries`/`value` now report per-query min;
  * medians stay in the artifact (`queries_median`, `value_median`) for
  * continuity with the r9 line. Two load-aware taints complement the
  * foreign-JVM scan: (a) suite-start loadavg above ~2.0 (after a bounded
  * settle-backoff of up to [[SettleBudgetSec]]) stamps `tainted_load` —
  * PARENT-level only in forked mode, because each child necessarily
  * starts under the load its predecessor's 32 threads just generated;
  * (b) per-rep EXTERNAL cpu — system-wide user-mode jiffies
  * (user+nice+steal; kernel time excluded as largely self-inflicted —
  * see cpuJiffies) minus this JVM chain's own user-mode jiffies, a
  * measure that stays valid while our own 32 threads are busy — above
  * ~2 cores averaged over the rep stamps `tainted_ext` and is recorded
  * per query in the detail (`ext`), so contention is attributable to the
  * specific reps it hit.
  *
  * FOURTH TAINT + TMPFS SCRATCH (since round 12): the residual round-11
  * noise was IO-shaped — checkpoint-heavy queries swinging ±15% between
  * identical runs with zero external user CPU, invisible to all three
  * CPU-based taints. Two measures: (a) each bench JVM routes
  * `spark.local.dir` (shuffle files, checkpoint/cache disk spill) to a
  * per-pid tmpfs dir under /dev/shm — the bench measures compute, not
  * the shared disk's ambient queue — and (b) per-rep deltas of
  * /proc/diskstats weighted-IO time (`io` in the detail, ms) watch the
  * device itself; with our own block IO in memory, sustained device
  * traffic during reps is external by construction and >1 rep above
  * [[IoTaintMs]] stamps `tainted_io` (`io_max_ms` records the peak).
  *
  * A query that throws is left out of `queries` and every total, named in
  * `failed` (stdout line and detail), and the run exits 1 after the suite.
  */
object Bench {

  /** Queries per child JVM in forked mode: small enough that aging can't
    * build (the measured bias needed ~90 queries to reach 15-25%; at 12
    * the residual is under the rep-to-rep noise floor), large enough
    * that the ~5 s per-child startup stays ~5% of suite wall time. */
  val FamilySize = 12

  /** ms precision: benchmark noise floor is far above 1 ms, and full
    * 17-digit doubles tripled the artifact line length. */
  private def ms(t: Double): Double = math.rint(t * 1000) / 1000

  /** Sum of `weighted_ms_doing_io` (/proc/diskstats field 14) over real
    * block devices (loop/ram/zram excluded). The delta over an interval
    * is device-level IO pressure INCLUDING other processes — the round-11
    * box's dominant residual noise was IO-shaped (checkpoint-heavy
    * queries swinging ±15% with ZERO external user CPU), invisible to
    * loadavg and to the user-mode ext-jiffies taint. With the bench's
    * own spill/shuffle dirs on tmpfs (see [[buildSession]]) and warm page
    * cache over the parquet inputs, device IO during a rep is almost
    * entirely external — so a sustained delta taints the run. */
  private def ioWeightedMs(): Long =
    try {
      // whole physical devices only: /proc/diskstats also lists every
      // PARTITION (sda1, vda2, nvme0n1p3, mmcblk0p1) and layered devices
      // (dm-*, md*) accumulating the SAME requests — summing them would
      // double- or triple-count IO and trip IoTaintMs on traffic a third
      // its calibrated size. Virtual/pseudo devices excluded outright.
      val partition =
        "^(?:[shxv]v?d[a-z]+\\d+|nvme\\d+n\\d+p\\d+|mmcblk\\d+p\\d+)$".r
      scala.io.Source.fromFile("/proc/diskstats").getLines()
        .map(_.trim.split("\\s+"))
        .filter { f =>
          f.length > 13 && {
            val n = f(2)
            !n.startsWith("loop") && !n.startsWith("ram") &&
            !n.startsWith("zram") && !n.startsWith("dm-") &&
            !n.startsWith("md") && partition.findFirstIn(n).isEmpty
          }
        }
        .map(_(13).toLong).sum
    } catch { case _: Throwable => 0L }

  /** (1, 5, 15)-minute load averages; zeros when /proc is unreadable. */
  private def loadavg(): Seq[Double] =
    try new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/loadavg")))
      .split("\\s+").take(3).toSeq.map(_.toDouble)
    catch { case _: Throwable => Seq(0.0, 0.0, 0.0) }

  /** This pid plus its ancestry (the sbt/shell chain that launched us —
    * and, for a forked-bench child, the orchestrating parent JVM) — the
    * processes that are ALLOWED to be JVMs during a bench. */
  private def selfAndAncestors(): Set[Long] = {
    def ppid(pid: Long): Option[Long] =
      try {
        val stat = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(s"/proc/$pid/stat")))
        // fields after the parenthesised comm (which may contain spaces)
        Some(stat.substring(stat.lastIndexOf(')') + 2).split(" ")(1).toLong)
      } catch { case _: Throwable => None }
    var acc = Set(ProcessHandle.current().pid())
    var p = ppid(acc.head)
    while (p.exists(x => x > 1 && !acc(x))) { acc += p.get; p = ppid(p.get) }
    acc
  }

  /** Live `java` processes that are neither this JVM nor its launcher
    * chain. Any hit means timings share cores with another workload. */
  private def foreignJvms(): Seq[Long] = {
    val mine = selfAndAncestors()
    Option(new java.io.File("/proc").listFiles()).getOrElse(Array.empty)
      .toSeq
      .flatMap(f => scala.util.Try(f.getName.toLong).toOption)
      .filterNot(mine)
      .filter { pid =>
        scala.util.Try(new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(s"/proc/$pid/comm"))).trim == "java")
          .getOrElse(false)
      }
  }

  /** (system-wide USER-MODE jiffies summed over all cpus, user-mode
    * jiffies of this process AND its launcher ancestry). The difference's
    * growth rate is CPU burned by UNRELATED processes — a contention
    * measure that stays meaningful while this JVM's own 32 threads are
    * saturated (loadavg does not). USER-mode only, both sides: kernel
    * `system` time includes writeback/compaction kthreads our own
    * checkpoint- and shuffle-heavy queries induce (measured 2-4 "cores"
    * during dedup BSP reps on an otherwise idle machine — self-inflicted,
    * not contention), while a competing workload's burn is user time.
    * `steal` stays included: hypervisor-level neighbors are exactly the
    * contention the flag exists for. Ancestors (the sbt/shell chain, and
    * the forked-mode parent) are folded into the "own" side: a parent
    * JVM streaming our logs burns ~1 core and is part of the harness. */
  private def cpuJiffies(): (Long, Long) = {
    val sysBusy = try {
      val line = scala.io.Source.fromFile("/proc/stat").getLines().next()
      val f = line.trim.split("\\s+").drop(1).map(_.toLong)
      // user + nice + steal; system/irq/softirq excluded (see above)
      f(0) + f(1) + (if (f.length > 7) f(7) else 0L)
    } catch { case _: Throwable => 0L }
    def procJiffies(pid: Long): Long = try {
      val stat = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"/proc/$pid/stat")))
      val f = stat.substring(stat.lastIndexOf(')') + 2).split(" ")
      f(11).toLong // utime (all threads, user mode)
    } catch { case _: Throwable => 0L }
    (sysBusy, selfAndAncestors().toSeq.map(procJiffies).sum)
  }

  /** cores of non-this-JVM cpu averaged over the interval (USER_HZ=100). */
  private def extCores(before: (Long, Long), after: (Long, Long),
                       elapsedSec: Double): Double =
    if (elapsedSec <= 0) 0.0
    else math.max(0.0,
      ((after._1 - before._1) - (after._2 - before._2)) / 100.0 / elapsedSec)

  /** [code cache, metaspace, old gen] occupancy in MB — the JVM-aging
    * forensics recorded per query (`mem` in the detail artifact). */
  private def memMB(): Seq[Double] = {
    var cc = 0.0; var msp = 0.0; var og = 0.0
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.forEach {
      p =>
        val used = p.getUsage.getUsed / 1e6
        val n = p.getName
        if (n.contains("CodeHeap") || n.contains("Code Cache")) cc += used
        else if (n == "Metaspace") msp += used
        else if (n.contains("Old Gen") || n.contains("Tenured")) og += used
    }
    Seq(cc, msp, og).map(x => math.rint(x))
  }

  private val ExtCoresTaint = 2.0
  private val LoadTaint = 2.0
  /** A rep with more than this much weighted device-IO time (ms) counts
    * as an IO hit; >1 hit taints the suite (one transient flush is shed
    * by min-of-reps, sustained contention hits many reps — same policy
    * as the ext-CPU taint). 1 s of weighted IO in a 1-3 s rep means a
    * busy device queue for a third of the measurement. */
  private val IoTaintMs = 1000L
  /** Total settle budget at suite start before stamping tainted_load —
    * bounded backoff instead of one fixed retry, so a driver-side run
    * that starts while the previous step drains still lands untainted. */
  private val SettleBudgetSec = 300

  private final case class QR(name: String, min: Double, median: Double,
                              warm: Double, warm2: Option[Double],
                              times: Seq[Double], exts: Seq[Double],
                              ios: Seq[Long], mem: Seq[Double])

  private final case class SuiteRun(results: Seq[QR], failed: Seq[String],
                                    foreign: Seq[Long], extMax: Double,
                                    extHits: Int, ioMax: Long, ioHits: Int)

  /** Per-JVM tmpfs scratch for shuffle files and checkpoint/cache disk
    * spill. The bench measures COMPUTE; routing its own block IO to
    * memory (a) stops billing queries for the shared disk's ambient
    * latency and (b) leaves /proc/diskstats carrying almost only
    * EXTERNAL traffic, which is what the IO taint watches. Deleted on
    * JVM exit; falls back to the default local dir when /dev/shm is
    * unavailable. */
  private lazy val tmpfsLocalDir: Option[String] = {
    val base = new java.io.File("/dev/shm")
    if (!base.isDirectory || !base.canWrite) None
    else try {
      // sweep stale siblings first: the shutdown hook never runs for a
      // SIGKILLed/OOM-killed bench JVM, and a leaked dir is RAM held
      // until reboot. A graft_bench_<pid> dir whose pid is no longer
      // alive is reclaimable by construction.
      Option(base.listFiles()).getOrElse(Array.empty).foreach { f =>
        val n = f.getName
        if (n.startsWith("graft_bench_"))
          scala.util.Try(n.stripPrefix("graft_bench_").toLong).toOption
            .foreach { pid =>
              if (!ProcessHandle.of(pid).isPresent) {
                System.err.println(s"[bench] reclaiming stale tmpfs scratch $n")
                deleteRec(f)
              }
            }
      }
      val d = new java.io.File(base,
        s"graft_bench_${ProcessHandle.current().pid()}")
      d.mkdirs()
      Runtime.getRuntime.addShutdownHook(new Thread(() => deleteRec(d)))
      Some(d.getAbsolutePath)
    } catch { case _: Throwable => None }
  }

  private def deleteRec(f: java.io.File): Unit = {
    if (f.isDirectory)
      Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRec)
    f.delete(): Unit
  }

  private def buildSession(): SparkSession =
    Session.build(confs = tmpfsLocalDir.map("spark.local.dir" -> _).toMap)

  /** Untimed JVM priming, run once per bench JVM before any timed query:
    * a few passes of representative work (parquet scan + hash join +
    * aggregation + window + sort) drain the young JVM's background-C2
    * queue over the infrastructure every timed query crosses. Without it,
    * queries early in a fresh JVM's life are billed for Spark-infra JIT —
    * measured +50-150% on sub-second queries at family positions 1-3
    * after the fork-per-family split, the mirror image of the aging bias
    * the split removed. Identical priming runs in EVERY bench JVM
    * (families and SPARK_GRAFT_BENCH_ONLY isolated runs alike), so
    * suite and isolated numbers share one basis. */
  private def prime(spark: SparkSession, sfDir: String): Unit = {
    val qs = Seq("q1_pricing_summary", "q3_top_orders", "q_window_analytics")
      .flatMap(SparkEntry.queries.get)
    var pass = 0
    while (pass < 4) {
      qs.foreach { fn =>
        try fn(spark, sfDir).queryExecution.toRdd.count()
        catch { case _: Throwable => () }
      }
      pass += 1
    }
    System.gc()
  }

  /** The measurement loop: warm (+re-warm on slow first contact), timed
    * reps with per-rep GC and external-CPU jiffies, per-query foreign-JVM
    * sampling and memory forensics. */
  private def runSuite(spark: SparkSession, sfDir: String,
                       selected: Seq[(String, (SparkSession, String) =>
                         org.apache.spark.sql.DataFrame)],
                       timedRuns: Int): SuiteRun = {
    val foreignSeen = scala.collection.mutable.SortedSet.empty[Long]
    var extSeen = 0.0 // max per-rep external-cpu cores observed anywhere
    var extHits = 0   // reps above the threshold (1 transient spike ≠ taint)
    var ioSeen = 0L   // max per-rep weighted device-IO ms observed
    var ioHits = 0    // reps above IoTaintMs
    val failed = Vector.newBuilder[String]
    val results = selected.flatMap { case (name, fn) =>
      // settle before each query (GC itself happens per rep inside once())
      Thread.sleep(100)
      foreignSeen ++= foreignJvms()
      def once(): (Double, Double, Long) = {
        // per-REP quiescence, not just per-query: collect the previous
        // rep's garbage before starting the clock. Heavy allocators
        // (posting-list pair explosions) otherwise hand each successive
        // rep a fuller old gen — observed as monotonically degrading reps
        // (2.6→6.9→17.4 s on dedup_containment) that billed rep N for
        // rep N−1's GC debt.
        System.gc()
        val j0 = cpuJiffies()
        val io0 = ioWeightedMs()
        val t0 = System.nanoTime()
        // FULL materialization, not .count(): a count on top lets the
        // optimizer prune projections and eliminate unique-key left joins
        // (observed: the substring-scrub pipeline collapsed to a bare scan
        // — 0.22 s "benched" vs 1.7 s of real work), so count-benched
        // numbers flatter any query whose top is prunable. toRdd executes
        // the plan optimized for its FULL output — every column computed,
        // every join real — which is what the verify dump and any real
        // consumer pay, minus sink IO.
        fn(spark, sfDir).queryExecution.toRdd.count()
        val t = (System.nanoTime() - t0) / 1e9
        val ext = extCores(j0, cpuJiffies(), t)
        val io = math.max(0L, ioWeightedMs() - io0)
        (t, ext, io)
      }
      try {
        val (warm, _, _) = once()
        // large plans are often STILL JIT-compiling during their first timed
        // runs when they execute early in the JVM's life (observed: a 5 s
        // first contact followed by 2.9→2.3→1.8 s timed runs — the median
        // lands mid-warmup and swings >30% between paired benches). One
        // extra warm pass for anything whose first contact was slow keeps
        // the medians attributable to plans.
        val warm2 = if (warm > 2.0) Some(once()._1) else None
        val reps = Seq.fill(timedRuns)(once())
        val times = reps.map(_._1)
        val exts = reps.map(_._2)
        val ios = reps.map(_._3)
        extSeen = math.max(extSeen, if (exts.isEmpty) 0.0 else exts.max)
        extHits += exts.count(_ > ExtCoresTaint)
        ioSeen = math.max(ioSeen, if (ios.isEmpty) 0L else ios.max)
        ioHits += ios.count(_ > IoTaintMs)
        val median = times.sorted.apply(times.length / 2)
        val minT = times.min
        System.err.println(
          f"[bench] $name%-28s warm=$warm%7.2fs runs=${times.map(t => f"$t%.2f").mkString(",")} min=$minT%7.2fs median=$median%7.2fs ext=${exts.map(e => f"$e%.1f").mkString(",")} io=${ios.mkString(",")}ms")
        Some(QR(name, ms(minT), ms(median), ms(warm), warm2.map(ms),
          times.map(ms), exts.map(ms), ios, memMB()))
      } catch { case e: Throwable => // named, not timed
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        failed += name
        None
      }
    }
    SuiteRun(results, failed.result(), foreignSeen.toSeq, extSeen, extHits, ioSeen, ioHits)
  }

  private def queriesJson(rs: Seq[QR], f: QR => Double): String =
    rs.map(r => "\"" + r.name + "\":" + f(r)).mkString("{", ",", "}")

  private def runsJson(rs: Seq[QR]): String =
    rs.map { r =>
      val warm2 = r.warm2.map(x => ",\"warm2\":" + x).getOrElse("")
      "\"" + r.name + "\":{\"warm\":" + r.warm + warm2 +
        ",\"t\":[" + r.times.mkString(",") + "],\"ext\":[" +
        r.exts.mkString(",") + "],\"io\":[" + r.ios.mkString(",") +
        "],\"mem\":[" + r.mem.mkString(",") + "]}"
    }.mkString("{", ",", "}")

  def main(args: Array[String]): Unit = {
    val sfDir = Session.sfDir
    // 4 reps since round 12: paired full-suite runs showed queries with
    // ~1.5-3 s warms still C2-compiling through rep 3 (monotone
    // 1.65→1.55→1.50 shapes, min always landing on the last rep) — a
    // fourth rep lands the min nearer the plateau for ~3 extra suite
    // minutes. The residual run-over-run offset is per-JVM compilation
    // lottery (whole families shift 10-20% together, warm included, all
    // four taints clean, cpu MHz pinned by the hypervisor) — only
    // multiple JVM invocations per family would shed it, at 2× suite
    // wall; documented instead.
    val timedRuns = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "4").toInt
    val isChild = sys.env.contains("SPARK_GRAFT_BENCH_CHILD")
    // dev aid: SPARK_GRAFT_BENCH_ONLY=q1,q2 times a subset while iterating
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val forkOff = sys.env.get("SPARK_GRAFT_BENCH_FORK").contains("0")
    if (!isChild && !forkOff && only.isEmpty)
      mainForked(sfDir, timedRuns)
    else
      mainInProcess(sfDir, timedRuns, only, isChild)
  }

  /** Suite-start settle with bounded backoff: wait in 20 s steps while
    * the 1-minute loadavg is above [[LoadTaint]], up to [[SettleBudgetSec]]
    * total, then return the (possibly still hot) reading for the caller's
    * taint decision. */
  private def settle(): Seq[Double] = {
    var lb = loadavg()
    var waited = 0
    while (lb.head > LoadTaint && waited < SettleBudgetSec) {
      System.err.println(
        f"[bench] loadavg ${lb.head}%.2f > $LoadTaint at start; settling 20s (${waited}s/$SettleBudgetSec)")
      Thread.sleep(20000)
      waited += 20
      lb = loadavg()
    }
    lb
  }

  /** The single-JVM measurement path: the whole (sub)suite in this JVM.
    * Forked-mode children land here (with their family as the subset), as
    * do SPARK_GRAFT_BENCH_ONLY dev runs and SPARK_GRAFT_BENCH_FORK=0
    * full-suite runs (the aging A/B lever). */
  private def mainInProcess(sfDir: String, timedRuns: Int,
                            only: Option[Set[String]],
                            isChild: Boolean): Unit = {
    // bounded settle-backoff: a spike from the previous driver step
    // winding down should not taint a whole suite that runs after it —
    // keep waiting in 20 s steps up to SettleBudgetSec before stamping.
    // Children skip it: the predecessor family's 32 threads ALWAYS leave
    // loadavg high at child start — self-inflicted, not contention (the
    // ext-jiffies taint covers real contention), and minutes × N children
    // would dominate suite wall time.
    val loadBefore = if (isChild) loadavg() else settle()
    val loadTainted = !isChild && loadBefore.head > LoadTaint
    val spark = buildSession()
    val selected = (only match {
      case Some(names) => SparkEntry.queries.filter { case (n, _) => names(n) }
      case None        => SparkEntry.queries
    }).toSeq.sortBy(_._1)
    prime(spark, sfDir)
    val run = runSuite(spark, sfDir, selected, timedRuns)
    val loadAfter = loadavg()
    val foreign = (run.foreign ++ foreignJvms()).distinct.sorted
    // a single offending rep is a transient (one kernel hiccup, one stray
    // short-lived process) and its query's min-of-reps already sheds it;
    // sustained contention hits many reps
    val extTainted = run.extHits > 1
    val ioTainted = run.ioHits > 1
    val tainted = foreign.nonEmpty || loadTainted || extTainted || ioTainted
    val total = ms(run.results.map(_.min).sum)
    val totalMed = ms(run.results.map(_.median).sum)
    val load = s"""{"before":[${loadBefore.mkString(",")}],"after":[${loadAfter.mkString(",")}]}"""
    val detailPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_DETAIL", "bench_detail.json")
    val taints = s""""tainted":$tainted,"tainted_foreign":${foreign.nonEmpty},""" +
      s""""tainted_load":$loadTainted,"tainted_ext":$extTainted,"ext_max":${ms(run.extMax)},""" +
      s""""tainted_io":$ioTainted,"io_max_ms":${run.ioMax}"""
    val qs = queriesJson(run.results, _.min)
    val qsMed = queriesJson(run.results, _.median)
    val failedJs = failedJson(run.failed)
    val detail = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,""" +
      s""""value_median":$totalMed,"queries_median":$qsMed,"failed":$failedJs,""" +
      s""""runs":${runsJson(run.results)},"loadavg":$load,$taints,""" +
      s""""foreign_jvms":[${foreign.mkString(",")}],"forked":false,"sf":"$sfDir"}"""
    try java.nio.file.Files.write(java.nio.file.Paths.get(detailPath),
      detail.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case e: Throwable => System.err.println(s"[bench] detail write failed: $e") }
    // COMPACT stdout line — no per-query map (~5-6 KB at 194 queries,
    // which outran the driver's ~2 KB tail capture every round since r8
    // and left the artifact `parsed: null`; the map lives in the detail
    // file and BENCH_BEST). Headline + taints + detail pointer ≈ 300 B.
    println(s"""{"metric":"total","value":$total,"unit":"sec",""" +
      s""""value_median":$totalMed,"n_queries":${run.results.size},""" +
      s""""failed":$failedJs,$taints,""" +
      s""""detail":"$detailPath","sf":"$sfDir"}""")
    spark.stop()
    // a forked child exits 0 with its failures in the detail file: the
    // parent merges them and exits 1, instead of re-running the family
    if (!isChild) exitIfFailed(run.failed)
  }

  private def failedJson(names: Seq[String]): String =
    names.map("\"" + _ + "\"").mkString("[", ",", "]")

  /** As in Verify: after the whole suite, name the failed gates, exit 1. */
  private def exitIfFailed(failed: Seq[String]): Unit =
    if (failed.nonEmpty) {
      System.err.println(s"[bench] ${failed.size} queries failed: ${failed.mkString(", ")}")
      sys.exit(1)
    }

  /** Forked-mode orchestrator: split the suite into alphabetical families
    * of [[FamilySize]], run each in a fresh child JVM (same flags and
    * classpath as this one), merge the children's detail artifacts. */
  private def mainForked(sfDir: String, timedRuns: Int): Unit = {
    var loadBefore = loadavg()
    if (loadBefore.head > LoadTaint) {
      System.err.println(f"[bench] loadavg ${loadBefore.head}%.2f > $LoadTaint at start; settling 20s")
      Thread.sleep(20000)
      loadBefore = loadavg()
    }
    val loadTainted = loadBefore.head > LoadTaint
    val names = SparkEntry.queries.keys.toSeq.sorted
    val families = names.grouped(FamilySize).toSeq
    val javaBin = sys.props("java.home") + "/bin/java"
    val cp = sys.props("java.class.path")
    val jvmArgs = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getRuntimeMXBean
        .getInputArguments.asScala.toSeq
    }
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val childDocs = Vector.newBuilder[(Int, JValue, Seq[String])]
    // child exits come in groups of `jvmSamples` per family (the
    // artifact's `jvm_samples` field records the grouping); per-family
    // sample totals land in the `children` forensics as `jvm_totals`
    val childExits = Vector.newBuilder[Int]
    val familyTotals = scala.collection.mutable.Map.empty[Int, Seq[Double]]
    var fallbackResults = Vector.empty[QR] // families whose child died
    var fallbackFailed = Vector.empty[String]
    var fallbackTaints = (false, false, 0.0) // (foreign, ext, extMax)
    var fallbackIo = (false, 0L) // (ioTainted, ioMax)
    // SPARK_GRAFT_BENCH_JVMS=N (default 1): run each family in N fresh
    // JVMs and keep the whole-family sample with the smallest min-total.
    // This is the standard remedy for the per-JVM C2 compilation lottery
    // (whole families shift 10-20% together between runs with every taint
    // clean — see NOTES round 12): one JVM sample per family cannot shed
    // it; best-of-N whole-JVM samples can, at N× suite wall. Off by
    // default so the driver's wall time is unchanged; the discarded
    // samples' totals land in the `children` forensics as `jvm_totals`.
    val jvmSamples = sys.env.getOrElse("SPARK_GRAFT_BENCH_JVMS", "1").toInt
      .max(1)
    families.zipWithIndex.foreach { case (family, i) =>
      def settleBetween(): Unit = {
        // between child JVMs: the previous child's 32 threads leave dirty
        // checkpoint/shuffle pages whose kernel writeback competes with
        // the next family's reps — invisible to the user-mode ext taint
        // (system time is deliberately excluded) but measured as +15-38%
        // on the checkpoint-heavy dedup family. Flush and let the run
        // queue drain before spawning the next child.
        try new ProcessBuilder("sync").start().waitFor()
        catch { case _: Throwable => () }
        var waited = 0
        while (loadavg().head > 2.5 && waited < 60) {
          Thread.sleep(5000); waited += 5
        }
        if (waited > 0)
          System.err.println(s"[bench] settled ${waited}s before next child")
      }
      def runChild(sample: Int): (Int, Option[JValue]) = {
        val detailFile =
          java.io.File.createTempFile(s"graft_bench_f${i}_s$sample", ".json")
        detailFile.deleteOnExit()
        val cmd = (Seq(javaBin) ++ jvmArgs ++
          Seq("-cp", cp, "graft.Bench")).toArray
        val pb = new ProcessBuilder(cmd: _*)
        pb.redirectErrorStream(false)
        pb.redirectError(ProcessBuilder.Redirect.INHERIT)
        pb.redirectOutput(ProcessBuilder.Redirect.DISCARD) // compact line: parent reprints
        val env = pb.environment()
        env.put("SPARK_GRAFT_BENCH_CHILD", "1")
        env.put("SPARK_GRAFT_BENCH_ONLY", family.mkString(","))
        env.put("SPARK_GRAFT_BENCH_DETAIL", detailFile.getAbsolutePath)
        env.put("SPARK_GRAFT_SF_DIR", sfDir)
        env.put("SPARK_GRAFT_CPUS", Session.cores.toString)
        env.put("SPARK_GRAFT_BENCH_RUNS", timedRuns.toString)
        val exit = try pb.start().waitFor()
          catch { case e: Throwable =>
            System.err.println(s"[bench] child spawn failed: $e"); -1 }
        val parsed =
          if (exit == 0)
            try Some(JsonMethods.parse(new String(java.nio.file.Files
              .readAllBytes(detailFile.toPath),
              java.nio.charset.StandardCharsets.UTF_8)))
            catch { case e: Throwable =>
              System.err.println(s"[bench] child detail unreadable: $e"); None }
          else None
        (exit, parsed)
      }
      def totalOf(j: JValue): Double = j \ "value" match {
        case JDouble(d) => d; case JInt(n) => n.toDouble
        case JLong(n) => n.toDouble; case _ => Double.MaxValue
      }
      System.err.println(s"[bench] family ${i + 1}/${families.size}: ${family.head}..${family.last}" +
        (if (jvmSamples > 1) s" ($jvmSamples JVM samples)" else ""))
      var best: Option[JValue] = None
      val sampleTotals = Vector.newBuilder[Double]
      (1 to jvmSamples).foreach { sample =>
        if (i > 0 || sample > 1) settleBetween()
        val (exit, parsed) = runChild(sample)
        childExits += exit
        parsed.foreach { j =>
          sampleTotals += totalOf(j)
          if (best.forall(b => totalOf(j) < totalOf(b))) best = Some(j)
        }
      }
      familyTotals(i) = sampleTotals.result()
      best match {
        case Some(j) =>
          childDocs += ((i, j, family))
          if (jvmSamples > 1)
            System.err.println(s"[bench] family ${i + 1} jvm_totals=" +
              familyTotals(i).map(t => f"$t%.2f").mkString(","))
        case None =>
          // fail-open: this family runs in-process (carries aging bias for
          // at most FamilySize queries, flagged by its nonzero child_exit)
          System.err.println(s"[bench] family $i: every child sample failed; running in-process")
          val spark = buildSession()
          // same priming every child JVM gets — without it the fallback
          // family would carry the fresh-JVM +50-150% early-position JIT
          // bias into the merged artifact (flagged only via child_exits)
          prime(spark, sfDir)
          val sel = SparkEntry.queries.filter { case (n, _) => family.contains(n) }
            .toSeq.sortBy(_._1)
          val run = runSuite(spark, sfDir, sel, timedRuns)
          spark.stop()
          fallbackResults ++= run.results
          fallbackFailed ++= run.failed
          fallbackTaints = (fallbackTaints._1 || run.foreign.nonEmpty,
            fallbackTaints._2 || run.extHits > 1,
            math.max(fallbackTaints._3, run.extMax))
          fallbackIo = (fallbackIo._1 || run.ioHits > 1,
            math.max(fallbackIo._2, run.ioMax))
      }
    }
    val docs = childDocs.result()
    def field(j: JValue, name: String): List[(String, JValue)] =
      j \ name match { case JObject(fs) => fs; case _ => Nil }
    def bool(j: JValue, name: String): Boolean =
      j \ name match { case JBool(b) => b; case _ => false }
    def dbl(j: JValue): Double = j match {
      case JDouble(d) => d; case JInt(n) => n.toDouble
      case JLong(n) => n.toDouble; case _ => 0.0
    }
    // merged per-query maps keep suite order (children are alphabetical
    // families of an alphabetical list, so concatenation IS sorted order;
    // in-process fallbacks splice back in by name)
    val qMin = (docs.flatMap { case (_, j, _) => field(j, "queries") }
      .map { case (n, v) => n -> dbl(v) } ++
      fallbackResults.map(r => r.name -> r.min)).sortBy(_._1)
    val qMed = (docs.flatMap { case (_, j, _) => field(j, "queries_median") }
      .map { case (n, v) => n -> dbl(v) } ++
      fallbackResults.map(r => r.name -> r.median)).sortBy(_._1)
    val runsMerged = (docs.flatMap { case (_, j, _) => field(j, "runs") }
      .map { case (n, v) => n -> JsonMethods.compact(JsonMethods.render(v)) } ++
      fallbackResults.map(r => r.name ->
        runsJson(Seq(r)).stripPrefix("{\"" + r.name + "\":").stripSuffix("}")))
      .sortBy(_._1)
    val foreign = docs.flatMap { case (_, j, _) =>
      j \ "foreign_jvms" match {
        case JArray(xs) => xs.map(x => dbl(x).toLong); case _ => Nil
      }
    }.distinct.sorted
    val failed = (docs.flatMap { case (_, j, _) =>
      j \ "failed" match {
        case JArray(xs) => xs.collect { case JString(n) => n }; case _ => Nil
      }
    } ++ fallbackFailed).sorted
    val failedJs = failedJson(failed)
    val extTainted = docs.exists { case (_, j, _) => bool(j, "tainted_ext") } ||
      fallbackTaints._2
    val foreignTainted = foreign.nonEmpty || fallbackTaints._1
    val extMax = math.max(
      (0.0 +: docs.map { case (_, j, _) => dbl(j \ "ext_max") }).max,
      fallbackTaints._3)
    val ioTainted = docs.exists { case (_, j, _) => bool(j, "tainted_io") } ||
      fallbackIo._1
    val ioMax = math.max(
      (0L +: docs.map { case (_, j, _) => dbl(j \ "io_max_ms").toLong }).max,
      fallbackIo._2)
    val tainted = foreignTainted || loadTainted || extTainted || ioTainted
    val total = ms(qMin.map(_._2).sum)
    val totalMed = ms(qMed.map(_._2).sum)
    val loadAfter = loadavg()
    val load = s"""{"before":[${loadBefore.mkString(",")}],"after":[${loadAfter.mkString(",")}]}"""
    val qs = qMin.map { case (n, v) => s"\"$n\":$v" }.mkString("{", ",", "}")
    val qsMed = qMed.map { case (n, v) => s"\"$n\":$v" }.mkString("{", ",", "}")
    val runsStr = runsMerged.map { case (n, v) => s"\"$n\":$v" }
      .mkString("{", ",", "}")
    // per-child forensics: family bounds, exit code, the child's own
    // loadavg window (expected high after the first family — see
    // mainInProcess) — enough to audit any one family's conditions
    val childrenStr = docs.map { case (i, j, family) =>
      val lv = JsonMethods.compact(JsonMethods.render(j \ "loadavg"))
      val totals = familyTotals.getOrElse(i, Seq.empty)
        .map(ms).mkString("[", ",", "]")
      s"""{"family":$i,"first":"${family.head}","last":"${family.last}","loadavg":$lv,"tainted_ext":${bool(j, "tainted_ext")},"jvm_totals":$totals}"""
    }.mkString("[", ",", "]")
    val detailPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_DETAIL", "bench_detail.json")
    val taints = s""""tainted":$tainted,"tainted_foreign":$foreignTainted,""" +
      s""""tainted_load":$loadTainted,"tainted_ext":$extTainted,"ext_max":${ms(extMax)},""" +
      s""""tainted_io":$ioTainted,"io_max_ms":$ioMax"""
    val detail = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,""" +
      s""""value_median":$totalMed,"queries_median":$qsMed,"failed":$failedJs,""" +
      s""""runs":$runsStr,"loadavg":$load,$taints,""" +
      s""""foreign_jvms":[${foreign.mkString(",")}],""" +
      s""""forked":true,"families":${families.size},"jvm_samples":$jvmSamples,""" +
      s""""child_exits":[${childExits.result().mkString(",")}],""" +
      s""""children":$childrenStr,"sf":"$sfDir"}"""
    try java.nio.file.Files.write(java.nio.file.Paths.get(detailPath),
      detail.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case e: Throwable => System.err.println(s"[bench] detail write failed: $e") }
    // compact stdout line — see mainInProcess: the per-query map is in
    // the detail artifact; the tail-captured line must stay short
    println(s"""{"metric":"total","value":$total,"unit":"sec",""" +
      s""""value_median":$totalMed,"n_queries":${qMin.size},""" +
      s""""failed":$failedJs,$taints,""" +
      s""""detail":"$detailPath","sf":"$sfDir"}""")
    exitIfFailed(failed)
  }
}
