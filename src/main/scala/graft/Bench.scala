package graft

/** Benchmark main: runs every SparkEntry query on SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line. A failed query is recorded (name in "failed",
  * negative time) — never silently timed as ~0 s. Each query's first
  * attempt is an untimed warm run, so reported numbers are steady-state
  * (comparable to Probe's warm iterations), never first-touch codegen cost.
  * Every attempt runs in its own [[Stage.query]], and only the query's
  * action is timed: the release of its cached and checkpoint blocks runs
  * after the clock stops.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local("graft-bench")
    // ---- fixture fingerprint, computed FIRST ------------------------------
    // The driver regenerated /root/testdata between rounds twice now (r9→r10
    // events.ts type change; r14→r15 ded8c644→0572d512) — both times silently,
    // invalidating cross-round per-query comparisons until a human noticed the
    // hash flip. So the fingerprint is computed at STARTUP and diffed against
    // the last recorded run's detail artifact (which carries the full
    // per-file listing), and any change is printed LOUDLY — files added,
    // removed, resized, or retimestamped — before a single query runs
    // (r16, verdict item 8).
    val detailPath = sys.env.getOrElse("SPARK_GRAFT_DETAIL_OUT", "bench_detail.json")
    val fixtureFiles = {
      // Option-guard: listFiles() returns null on I/O error or if the dir
      // vanishes mid-walk (e.g. a fixture regeneration — the very event
      // this fingerprint detects); an NPE here would discard the whole
      // run's output
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory)
          Option(f.listFiles()).getOrElse(Array.empty[java.io.File])
            .toSeq.sortBy(_.getName).flatMap(walk)
        else Seq(f)
      val root = new java.io.File(sfDir)
      if (root.isDirectory)
        walk(root).filter(_.getName.endsWith(".parquet"))
          .map(f => (f.getPath.stripPrefix(root.getPath).stripPrefix("/"),
                     f.length(), f.lastModified()))
      else Seq.empty
    }
    val fixtureHash = {
      val md = java.security.MessageDigest.getInstance("MD5")
      fixtureFiles.foreach { case (p, len, mt) =>
        md.update(s"$p:$len:$mt;".getBytes("UTF-8"))
      }
      md.digest().take(4).map(b => f"${b & 0xff}%02x").mkString
    }
    try {
      val prevFile = new java.io.File(detailPath)
      if (prevFile.isFile) {
        val prev = new String(
          java.nio.file.Files.readAllBytes(prevFile.toPath), "UTF-8")
        val node = new com.fasterxml.jackson.databind.ObjectMapper()
          .readTree(prev)
        val prevHash = Option(node.get("fixture")).map(_.asText()).getOrElse("")
        val prevSf = Option(node.get("sf")).map(_.asText()).getOrElse("")
        if (prevSf == sfDir && prevHash.nonEmpty && prevHash != fixtureHash) {
          val prevFiles = Option(node.get("fixture_files")).map { ff =>
            val it = ff.fields()
            val b = Map.newBuilder[String, (Long, Long)]
            while (it.hasNext) {
              val e = it.next()
              b += e.getKey -> (e.getValue.get(0).asLong(),
                e.getValue.get(1).asLong())
            }
            b.result()
          }.getOrElse(Map.empty[String, (Long, Long)])
          val curFiles = fixtureFiles.map { case (p, l, m) => p -> (l, m) }.toMap
          val added = (curFiles.keySet -- prevFiles.keySet).toSeq.sorted
          val removed = (prevFiles.keySet -- curFiles.keySet).toSeq.sorted
          val common = (curFiles.keySet & prevFiles.keySet).toSeq.sorted
          val resized = common.filter(p => curFiles(p)._1 != prevFiles(p)._1)
            .map(p => s"$p ${prevFiles(p)._1}->${curFiles(p)._1}")
          val retimed = common.count(p =>
            curFiles(p)._1 == prevFiles(p)._1 && curFiles(p)._2 != prevFiles(p)._2)
          val msg =
            s"""[bench] ############################################################
               |[bench] # FIXTURE CHANGED since last recorded run: $prevHash -> $fixtureHash
               |[bench] #   sf dir: $sfDir
               |[bench] #   added (${added.size}): ${added.take(10).mkString(", ")}
               |[bench] #   removed (${removed.size}): ${removed.take(10).mkString(", ")}
               |[bench] #   resized (${resized.size}): ${resized.take(10).mkString(", ")}
               |[bench] #   mtime-only changes: $retimed
               |[bench] # Cross-round per-query deltas against the previous round
               |[bench] # carry fixture noise -- re-baseline before adjudicating.
               |[bench] ############################################################""".stripMargin
          println(msg); System.err.println(msg)
        } else if (prevSf == sfDir && prevHash == fixtureHash) {
          println(s"[bench] fixture unchanged since last recorded run: $fixtureHash")
        }
      }
    } catch {
      case e: Throwable =>
        System.err.println(s"[bench] fixture-diff check failed: ${e.getMessage}")
    }
    // Session warm-up: one join+agg to initialize the scan/exchange/hash-agg
    // machinery and the JVM itself. Per-query first-touch codegen/JIT cost is
    // handled structurally below (each query's attempt 0 is untimed), so the
    // r4-r10 hand-curated warm-up list of heavy codegen families is gone —
    // it only reduced the cost of attempts that are no longer timed.
    val warmup = SparkEntry.queries.getOrElse("q05_join_priority_agg",
      SparkEntry.queries.toSeq.minBy(_._1)._2)
    try Stage.query(spark)(warmup(spark, sfDir).count())
    catch { case e: Throwable => System.err.println(s"[bench] warm-up FAILED: ${e.getMessage}") }
    var failed = List.empty[String]
    // Per-query protocol: attempt 0 is an UNTIMED warm run (it still runs and
    // still fails the query on error, but its duration never enters the min),
    // then min over 1-2 timed attempts. Rationale (r10 verdict): with 181
    // distinct codegen families the global warm-up list can't cover every
    // query's first-touch janino/JIT compile, and min-of-N *including* the
    // cold attempt still reported first-touch cost whenever every attempt of
    // a late-fleet query hit a cold cache (measured: q123 6.10 s in-fleet vs
    // 0.73 s warm isolated, q139 6.30 vs 2.75, q145 6.74 vs 4.85). Excluding
    // each query's own first attempt makes the fleet number steady-state by
    // construction — the same number Probe reports warm — at the cost of
    // one extra execution per query. Queries whose warm attempt is already
    // below the 0.25 s noise floor get a single timed attempt; slower ones
    // get two, plus an adaptive third when the two disagree by >30% (the
    // slower was a GC/contention artifact; r9 measured 12 of 48 heavy
    // queries drifting >20% across consecutive invocations).
    // Each attempt is one Stage.query: only the action is timed; the cache
    // drop and the blocking release of the attempt's cached and checkpoint
    // blocks run after the clock stops, so no query's blocks are left for a
    // later query's timed attempt to free. One GC pass with a short drain,
    // untimed, before every attempt lets the ContextCleaner retire the
    // broadcasts and driver-side garbage of the attempt before.
    val results = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      def once(): (Boolean, Double) = {
        System.gc(); Thread.sleep(15)
        var secs = 0.0
        val ok =
          try Stage.query(spark) {
            val t0 = System.nanoTime()
            try fn(spark, sfDir).count()
            finally secs = (System.nanoTime() - t0) / 1e9
            true
          }
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
            false
          }
        (ok, secs)
      }
      val warm = once() // attempt 0: first-touch codegen/JIT, never timed
      val timed =
        if (!warm._1) Seq.empty
        else if (warm._2 < 0.25) Seq(once())
        else {
          val two = Seq(once(), once())
          two match {
            case Seq((true, t1), (true, t2))
              if math.max(t1, t2) / math.min(t1, t2) > 1.3 => two :+ once()
            case _ => two
          }
        }
      val runs = warm +: timed
      val anyFailed = runs.exists(!_._1)
      if (anyFailed) failed ::= name
      // ANY failed attempt marks the query failed: best goes negative (so it
      // can't be summed into total as a success), and failed attempts are
      // negated inside "runs" too — a failure is never readable as a fast
      // success from the JSON alone. For a green query the best is the min
      // over timed attempts only; runs[0] in the detail line is always the
      // untimed warm attempt, kept for first-touch-cost auditing.
      val best =
        if (anyFailed) -runs.map(_._2).max
        else timed.map(_._2).min
      (name, best, runs.map(r => if (r._1) r._2 else -r._2))
    }
    // The harness that reads this output keeps only the LAST ~2000 chars
    // and parses the final JSON line out of them — r06-r08 came back
    // "parsed": null because full query names + raw nanosecond doubles +
    // the per-run detail pushed the line past 8 KB. So: the per-query
    // detail (full names, both raw min-of-2 runs) prints FIRST on its own
    // line (available in any full log, harmlessly cut from a tail), and
    // the final summary line uses the short qNN id + 3-decimal seconds,
    // keeping it ~1.5 KB so it always survives the tail intact.
    def r3(v: Double): String =
      BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    // summary values at 2 decimals: at 140 queries the 3-decimal line hit
    // 1822 of the 2000-char tail the harness keeps; centisecond precision
    // is far below this VM's run-to-run noise anyway
    def r2(v: Double): String =
      BigDecimal(v).setScale(2, BigDecimal.RoundingMode.HALF_UP).toString
    // Fixture fingerprint: computed once at startup (see the loud-diff block
    // above); the full listing goes on the detail line for forensics and is
    // what the NEXT run's startup diff reads back.
    val fixtureDetail = fixtureFiles
      .map { case (p, len, mt) => "\"" + p + "\":[" + len + "," + mt + "]" }
      .mkString("{", ",", "}")
    val detail = results
      .map { case (k, _, rs) => "\"" + k + "\":" + rs.map(r3).mkString("[", ",", "]") }
      .mkString("{", ",", "}")
    val detailLine =
      s"""{"bench_detail":$detail,"fixture":"$fixtureHash","fixture_files":$fixtureDetail,"sf":"$sfDir"}"""
    println(detailLine)
    // The summary line folds sub-0.8 s queries into one aggregate to stay
    // under the driver's ~1800-char tail cap — at 245 queries that hides
    // ~120 per-query times from the parsed view. Persist the FULL detail as
    // a file artifact so per-query regression visibility never depends on
    // the tail (r15, verdict item 3). Best-effort: a read-only cwd must not
    // discard the run's stdout output.
    try {
      java.nio.file.Files.write(
        java.nio.file.Paths.get(
          sys.env.getOrElse("SPARK_GRAFT_DETAIL_OUT", "bench_detail.json")),
        (detailLine + "\n").getBytes("UTF-8"))
    } catch {
      case e: Throwable =>
        System.err.println(s"[bench] detail artifact write failed: ${e.getMessage}")
    }
    def shortId(n: String): String = n.takeWhile(_ != '_')
    // Sub-0.8 s queries sit below this VM's run-to-run noise floor and are
    // never perf-graded individually; folding them into one {"n","sum"}
    // aggregate keeps the summary line well under the ~2000-char tail the
    // harness parses (steady-state timing pushed the r11 fleet to 122
    // individual entries at the old 0.25 s cut — 1802 chars, one slow
    // query from truncation; the 205-query registry pushed the 0.4 s cut
    // to 1739, and the 243-query registry pushed 0.5 to 1760 — a few
    // timing wobbles from overflow, hence 0.65; the 289-query registry
    // hit 1628 at 0.65, hence 0.8; the 301-query registry hit 1542 at
    // 0.8 — ~40 more queries from overflow — hence 1.0 (r17 verdict item
    // 6: measured on the r17 detail, the 1.0 cut lists 110 of 301 queries
    // at ~1443 B, projecting ~1687 B at 350 queries — still under the
    // ~1800 B cap). The ~340-queries trigger the r17 plan set for the
    // 1.2 escalation arrived EARLY: the 310-query r19 closing fleet
    // measured 1778 B at the 1.0 cut (a hot fleet JVM pushes more
    // queries over any fixed cut — the cut guards a byte budget, not a
    // query count), so 1.2 landed in r19; that fleet re-measured ~1560 B.
    // Their individual times stay on the bench_detail line, and a failed
    // query (negative best) is always listed individually.
    val (slow, fastQ) = results.partition { case (_, v, _) => v < 0 || v >= 1.2 }
    val qs = slow.map { case (k, v, _) => "\"" + shortId(k) + "\":" + r2(v) }
      .mkString("{", ",", "}")
    val fastJson =
      s"""{"n":${fastQ.size},"sum":${r2(fastQ.map(_._2).sum)}}"""
    val total = results.map { case (_, v, _) => math.abs(v) }.sum
    val failedJson = failed.sorted.map(n => "\"" + shortId(n) + "\"")
      .mkString("[", ",", "]")
    val summary =
      s"""{"metric":"total","value":${r3(total)},"unit":"sec","queries":$qs,"fast":$fastJson,"failed":$failedJson,"fixture":"$fixtureHash","sf":"$sfDir"}"""
    // The driver tails stdout and parses the last JSON line, but under sbt
    // the `[success] Total time ...` banner prints AFTER us — r6-r9 all came
    // back "parsed": null. Emit the summary on BOTH streams, flushed, so a
    // parser reading either stream's tail (or a merged tail where stderr
    // interleaves later) still finds an intact JSON line as late as we can
    // make it.
    println(summary)
    System.out.flush()
    // re-emit after stop: SparkSession.stop logs shutdown lines to stderr,
    // so this second copy is the true last line of both streams.
    try spark.stop() catch { case _: Throwable => () }
    println(summary)
    System.out.flush()
    System.err.println(summary)
    System.err.flush()
    if (failed.nonEmpty) sys.exit(1)
  }
}
