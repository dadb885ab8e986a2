package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.graftbridge.SessionBridge
import org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent

/** Measures the per-batch incremental cost of the versioned-state
  * streaming family (r16, verdict item 5): for each member, run the
  * query's micro-batch loop, take each `foreachBatch` micro-batch's
  * `addBatch` time from its streaming progress event, then read the
  * versioned state the loop left in its store and emit one ledger row per
  * micro-batch —
  * (query, batch_id, seconds, state rows per table) — so the
  * "state grows → per-batch cost grows" curve in SCALE.md is MEASURED,
  * not asserted. Two store layouts are walked:
  *   - versioned tables `X_v{b}` / `v{b}` (q194/q200/q241/q253 — the
  *     per-batch REWRITTEN accumulated state; rows at version b ARE the
  *     state the batch processed), and
  *   - per-batch increments ([[Stage.append]], named by [[Stage.batchOf]];
  *     q225/q227/q235 — state at b = cumulative rows ≤ b).
  *
  * Usage: runMain graft.IncrementalLedger [sfDir] [outMd]
  * Writes a markdown ledger (default INCREMENTAL_LEDGER.md) and prints it.
  * Each query gets one untimed warm run (first-touch codegen/JIT, the
  * Bench discipline) and one measured run.
  */
object IncrementalLedger {
  private val FAMILY: Seq[(String, String)] = Seq(
    "q194_stream_incremental_cc" -> "graft-q194-cc-",
    "q200_stream_incremental_pagerank" -> "graft-q200-pr-",
    "q241_stream_incremental_lpa" -> "graft-q241-lpa-",
    "q253_stream_hits" -> "graft-q253-hits-",
    "q225_stream_url_dedup" -> "graft-q225-url-",
    "q227_stream_overlap_matrix" -> "graft-q227-ovl-",
    "q235_stream_domain_quota" -> "graft-q235-quota-",
    // stateless member (q276's stream-static gate): measured to SHOW the
    // flat per-batch curve the family's state-growth members contrast with
    "q279_stream_semantic_decontam" -> "graft-q279-decontam-",
    // r17 (verdict item 7): the two newest streaming members — q290's
    // drift census (count-increment store) and q294's PCM gate (the
    // second stateless contrast member; its per-batch constant is what
    // the r17 q294 adjudication measures)
    "q290_stream_schema_drift" -> "graft-q290-drift-",
    "q294_stream_pcm_gate" -> "graft-q294-pcm-",
    // r17 wave 10: the streaming KMV sketch (fixed ≤64-longs-per-source
    // increments — the flattest state curve in the family)
    "q298_stream_kmv" -> "graft-q298-kmv-",
    // r18 (verdict items 3+5): the warm-start production paths — their
    // per-batch cost next to the cold-replay twins (q200/q253) is the
    // number the warm-start flags exist to buy — and the recrawl member
    // (append-only gram/bucket/event/pair stores; old docs never
    // re-shingled)
    "q303_warm_stream_pagerank" -> "graft-q303-warmpr-",
    "q304_warm_stream_hits" -> "graft-q304-hits-",
    "q305_recrawl_neardup" -> "graft-q305-recrawl-",
    "q306_recrawl_updates" -> "graft-q306-recrawl-",
    "q307_incremental_semantic_dedup" -> "graft-q307-semdedup-",
    "q308_warm_stream_lpa" -> "graft-q308-lpa-",
    "q309_recrawl_deletions" -> "graft-q309-recrawl-",
    // r19: the embedding-space recrawl DELETE/UPDATE members completing
    // the CRUD matrix (deletes are O(delete-list): tombstones assign no
    // cells and generate no pair work — the q309 claim in vector space)
    "q310_semantic_recrawl_deletions" -> "graft-q310-semdel-",
    "q311_semantic_recrawl_updates" -> "graft-q311-semupd-")

  private val VersionedDir = "(?:(.+)_)?v(\\d+)".r

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val outMd = if (args.length > 1) args(1) else "INCREMENTAL_LEDGER.md"
    val spark = GraftSession.local("graft-ledger")
    // (batchId, seconds) of every foreachBatch micro-batch since the last
    // clear; the progress events reach a SparkListener as "other" events
    val batches = new ConcurrentLinkedQueue[(Long, Double)]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case p: QueryProgressEvent
            if p.progress.sink.description.startsWith("ForeachBatchSink") =>
          Option(p.progress.durationMs.get("addBatch"))
            .foreach(ms => batches.add((p.progress.batchId, ms / 1000.0)))
        case _ =>
      }
    })
    val sb = new StringBuilder
    sb ++= s"# Incremental-cost ledger (streaming versioned-state family)\n\n"
    sb ++= s"Generated by `runMain graft.IncrementalLedger $sfDir` — one row\n"
    sb ++= s"per micro-batch of each family member's AvailableNow run: the\n"
    sb ++= s"foreachBatch sink's addBatch seconds and the rows of every state\n"
    sb ++= s"table the batch left in its versioned store. `sf`: `$sfDir`.\n"
    FAMILY.foreach { case (name, prefix) =>
      val fn = SparkEntry.queries(name)
      // warm run: first-touch codegen/JIT lands here, not in the ledger
      Stage.query(spark)(fn(spark, sfDir).count())
      SessionBridge.drainListenerBus(spark)
      batches.clear()
      Stage.query(spark)(fn(spark, sfDir).count())
      SessionBridge.drainListenerBus(spark)
      val times = batches.asScala.toSeq.sortBy(_._1)
      // state rows per batch, from the store the run left behind
      val store = Stage.existing(prefix, sfDir)
      val children = store.toSeq.flatMap { p =>
        Option(p.toFile.listFiles()).getOrElse(Array.empty[java.io.File]).toSeq
          .filter(_.isDirectory)
      }
      def rows(f: java.io.File): Long =
        try spark.read.parquet(f.getPath).count() catch { case _: Throwable => -1L }
      // versioned tables: rows AT version b; increments: cumulative ≤ b
      val versioned = children.flatMap { f =>
        f.getName match {
          case VersionedDir(t, b) =>
            Some((b.toLong, Option(t).getOrElse("state"), rows(f)))
          case _ => None
        }
      }
      // increments either sit directly in the store root (q225-style) or
      // one level down in NAMED tables (q305/q306: store/docstate/...)
      // — walk both
      def isIncrement(f: java.io.File) = Stage.batchOf(f.getName).isDefined
      val incRoots: Seq[(String, java.io.File)] =
        children.collect { case f if isIncrement(f) =>
          "store" -> f.getParentFile
        }.distinct ++
          children.flatMap { t =>
            Option(t.listFiles()).getOrElse(Array.empty[java.io.File]).toSeq
              .filter(c => c.isDirectory && isIncrement(c))
              .map(_ => t.getName -> t)
          }.distinct
      val cumulative = incRoots.flatMap { case (tname, root) =>
        val incs = Option(root.listFiles()).getOrElse(Array.empty[java.io.File])
          .toSeq.flatMap(f => Stage.batchOf(f.getName).map(b => (b, rows(f))))
          .sortBy(_._1)
        incs.scanLeft((-1L, 0L)) {
          case ((_, acc), (b, n)) => (b, acc + n)
        }.drop(1).map { case (b, n) =>
          (b, if (tname == "store") "store_cumulative" else s"${tname}_cum", n)
        }
      }
      val states = (versioned ++ cumulative)
        .groupBy(_._1).view.mapValues(_.map(t => t._2 -> t._3).sortBy(_._1))
      val tables = (versioned ++ cumulative).map(_._2).distinct.sorted
      sb ++= s"\n## $name\n\n"
      sb ++= s"| batch | seconds | ${tables.mkString(" rows | ")} rows |\n"
      sb ++= s"|---|---|${tables.map(_ => "---|").mkString}\n"
      times.foreach { case (b, sec) =>
        val st = states.getOrElse(b, Seq.empty).toMap
        sb ++= f"| $b | $sec%.2f | ${tables.map(t => st.getOrElse(t, -1L)).mkString(" | ")} |\n"
      }
      println(s"[ledger] $name: ${times.map(t => f"${t._2}%.2f").mkString(", ")} s over ${times.size} batches")
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(outMd),
      sb.toString.getBytes("UTF-8"))
    println(sb.toString)
    spark.stop()
  }
}
