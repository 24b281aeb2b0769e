package graft

/** Profiling main (not a supported entry point), on the same
  * session as `graft.Bench` ([[LocalSession.fromEnv]]). Modes (first
  * argument): `plans`, `profile`, `stable`, `repeat`, `plantime`,
  * `streamprofile`; with query names only (or none), per-query timing
  * plus an exchange/sort census of the executed plan (default: the
  * round-13 audit of q_agg_decile_bounds, q_basket_pairs, q_agg_mad). */
object Scratch {
  def main(args: Array[String]): Unit = {
    val spark = LocalSession.fromEnv()
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.mode("overwrite").format("noop").save()

    if (args.headOption.contains("plans")) {
      // dump explain("formatted") for the named queries into the given
      // dir as <name>_<suffix>.txt (round-19 optimization evidence)
      val outDir = args.lift(1).getOrElse("/root/repo/plans/r19")
      val suffix = args.lift(2).getOrElse("before")
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
      args.drop(3).foreach { name =>
        val df = Catalog.byName(name).fn(spark, d)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$outDir/${name}_$suffix.txt"),
          txt.getBytes("UTF-8"))
        println(s"[scratch] wrote $outDir/${name}_$suffix.txt")
        spark.catalog.clearCache()
        graft.ops.FrameCache.clear(spark)
      }
      spark.stop(); return
    }

    if (args.headOption.contains("profile")) {
      // per-stage wall/cpu/shuffle census for one query run: which
      // stages carry the time, and is it compute or exchange?
      val stages = new java.util.concurrent.ConcurrentHashMap[
        Int, (String, Long, Long, Long, Long, Int, Long, Long)]()
      spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          override def onStageCompleted(
              e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
            val si = e.stageInfo
            val m = si.taskMetrics
            val wall = (for {s <- si.submissionTime; c <- si.completionTime}
              yield c - s).getOrElse(-1L)
            stages.put(si.stageId, (si.name.takeWhile(_ != '\n').take(60),
              wall, m.executorRunTime,
              m.shuffleReadMetrics.totalBytesRead,
              m.shuffleWriteMetrics.bytesWritten, si.numTasks,
              m.executorCpuTime / 1000000L, m.jvmGCTime))
          }
        })
      args.drop(1).foreach { name =>
        // warm run (JIT/codegen), then the profiled run
        noop(Catalog.byName(name).fn(spark, d))
        spark.catalog.clearCache(); graft.ops.FrameCache.clear(spark)
        stages.clear()
        val t0 = System.nanoTime()
        noop(Catalog.byName(name).fn(spark, d))
        val total = (System.nanoTime() - t0) / 1e9
        Thread.sleep(300) // let listener drain
        println(f"[profile] $name total ${total}%.3f s, stages:")
        import scala.jdk.CollectionConverters._
        stages.asScala.toSeq.sortBy(-_._2._2).take(15).foreach {
          case (id, (nm, wall, run, sr, sw, nt, cpu, gc)) =>
            println(f"[profile]   stage $id%4d wall=${wall}%6d ms run=${run}%7d ms " +
              f"cpu=${cpu}%7d ms gc=${gc}%6d ms " +
              f"tasks=$nt%3d shufR=${sr / 1024}%8d KB shufW=${sw / 1024}%8d KB  $nm")
        }
        spark.catalog.clearCache(); graft.ops.FrameCache.clear(spark)
      }
      spark.stop(); return
    }

    if (args.headOption.contains("stable")) {
      // timing stability: same trivial shuffle job N times
      import org.apache.spark.sql.functions._
      val df = Tables(spark, d, "documents")
        .groupBy(pmod(col("doc_id"), lit(32)).as("k")).agg(count(lit(1)))
      (1 to 10).foreach { i =>
        val t0 = System.nanoTime()
        noop(df)
        println(f"[stable] run $i: ${(System.nanoTime() - t0) / 1e9}%.3f s")
      }
      spark.stop(); return
    }

    if (args.headOption.contains("repeat")) {
      // round-20 spike hunt: run ONE query N times in one JVM (bench
      // cadence: clearCache + FrameCache.clear between runs) and print
      // per-run wall alongside the JVM-health deltas — GC time, JIT
      // compilation time, loaded-class count, code-cache occupancy —
      // to attribute late-run multi-second spikes (seen in the bench)
      // to GC, codegen pile-up, or neither.
      import scala.jdk.CollectionConverters._
      val name = args.lift(1).getOrElse("q_dedup_ngram_jaccard")
      val n = args.lift(2).map(_.toInt).getOrElse(15)
      def gcMs: Long = java.lang.management.ManagementFactory
        .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
      def jitMs: Long = java.lang.management.ManagementFactory
        .getCompilationMXBean.getTotalCompilationTime
      def classes: Long = java.lang.management.ManagementFactory
        .getClassLoadingMXBean.getTotalLoadedClassCount
      def codeCacheMb: Double = java.lang.management.ManagementFactory
        .getMemoryPoolMXBeans.asScala
        .filter(_.getName.contains("CodeHeap")).map(_.getUsage.getUsed).sum / 1e6
      val q = Catalog.byName(name)
      (1 to n).foreach { i =>
        val (g0, j0, c0) = (gcMs, jitMs, classes)
        val t0 = System.nanoTime()
        noop(q.fn(spark, d))
        val dt = (System.nanoTime() - t0) / 1e9
        println(f"[repeat] run $i%2d: ${dt}%6.2f s  gc+${gcMs - g0}%5d ms " +
          f"jit+${jitMs - j0}%5d ms classes+${classes - c0}%5d " +
          f"codeCache=${codeCacheMb}%6.1f MB")
        spark.catalog.clearCache(); graft.ops.FrameCache.clear(spark)
      }
      spark.stop(); return
    }

    if (args.headOption.contains("plantime")) {
      // split per-query wall into construct / analyze+optimize+plan /
      // execute — is the headline paying compute or planner overhead?
      args.drop(1).foreach { name =>
        val q = Catalog.byName(name)
        noop(q.fn(spark, d)) // warm (JIT, codegen cache, footers)
        spark.catalog.clearCache(); graft.ops.FrameCache.clear(spark)
        (1 to 3).foreach { _ =>
          val t0 = System.nanoTime()
          val df = q.fn(spark, d)
          val t1 = System.nanoTime()
          df.queryExecution.executedPlan // analysis+optimization+physical
          val t2 = System.nanoTime()
          noop(df)
          val t3 = System.nanoTime()
          println(f"[plantime] $name construct=${(t1 - t0) / 1e6}%.0f ms " +
            f"plan=${(t2 - t1) / 1e6}%.0f ms exec=${(t3 - t2) / 1e6}%.0f ms")
          spark.catalog.clearCache(); graft.ops.FrameCache.clear(spark)
        }
      }
      spark.stop(); return
    }

    if (args.headOption.contains("streamprofile")) {
      // per-micro-batch cost breakdown for the real streaming runs:
      // where does the wall-clock sit — state-store commits, the
      // batch's own work (addBatch), or scheduling/offset bookkeeping?
      spark.streams.addListener(
        new org.apache.spark.sql.streaming.StreamingQueryListener {
          import org.apache.spark.sql.streaming.StreamingQueryListener._
          override def onQueryStarted(e: QueryStartedEvent): Unit = ()
          override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
          override def onQueryProgress(e: QueryProgressEvent): Unit = {
            val p = e.progress
            val dm = p.durationMs
            def ms(k: String) = Option(dm.get(k)).map(_.longValue).getOrElse(-1L)
            val st = p.stateOperators.toSeq.map(so =>
              s"commit=${so.commitTimeMs}ms rows=${so.numRowsTotal}").mkString("; ")
            println(s"[stream] batch=${p.batchId} rows=${p.numInputRows} " +
              s"out=${p.sink.numOutputRows} wm=${p.eventTime.get("watermark")} " +
              s"trigger=${ms("triggerExecution")} addBatch=${ms("addBatch")} " +
              s"getBatch=${ms("getBatch")} latestOffset=${ms("latestOffset")} " +
              s"walCommit=${ms("walCommit")} commitOffsets=${ms("commitOffsets")} " +
              s"queryPlanning=${ms("queryPlanning")} state[$st]")
          }
        })
      args.drop(1).foreach { name =>
        val t0 = System.nanoTime()
        noop(Catalog.byName(name).fn(spark, d))
        println(f"[scratch] $name total: ${(System.nanoTime() - t0) / 1e9}%.3f s")
      }
      spark.stop(); return
    }

    val names = args.toSeq match {
      case Seq() => Seq("q_agg_decile_bounds", "q_basket_pairs", "q_agg_mad")
      case more => more
    }

    names.foreach { name =>
      val q = Catalog.byName(name)
      (1 to 3).foreach { r =>
        val t0 = System.nanoTime()
        noop(q.fn(spark, d))
        println(f"[scratch] $name r$r: ${(System.nanoTime() - t0) / 1e9}%.3f s")
        spark.catalog.clearCache()
        graft.ops.FrameCache.clear(spark)
      }
      val df = q.fn(spark, d)
      noop(df) // AQE-final plan
      val plan = df.queryExecution.executedPlan
      def census(p: org.apache.spark.sql.execution.SparkPlan): Seq[String] = {
        val kids = p match {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            Seq(a.executedPlan)
          case qse: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
            Seq(qse.plan)
          case i: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
            Seq(i.relation.cachedPlan)
          case other => other.children
        }
        val here = p match {
          case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
            Seq(s"Exchange(${e.outputPartitioning})")
          case _: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec =>
            Seq("BroadcastExchange")
          case so: org.apache.spark.sql.execution.SortExec =>
            Seq(s"Sort(global=${so.global})")
          case _: org.apache.spark.sql.execution.window.WindowExec => Seq("Window")
          case _ => Nil
        }
        here ++ kids.flatMap(census)
      }
      println(s"[scratch] $name census: " + census(plan).groupBy(identity)
        .map { case (k, v) => s"$k x${v.size}" }.toSeq.sorted.mkString(", "))
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
