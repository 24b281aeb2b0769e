package graft

import graft.ops.Relational
import graft.pipeline._
import graft.queries.PipelineQueries
import java.nio.file.Files
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame

/** E2E tests of the L2 runtime's behavioral contracts (SURVEY.md §7.4):
  * staged layout, per-file checkpoints, kill-and-resume skip semantics,
  * idempotent re-run, and the retry loop. All on file:// — the Hadoop
  * FS code path is identical for s3a. */
class PipelineSpec extends SparkSpecBase {

  private def freshWorkspace(): String =
    Files.createTempDirectory("graft_test_").toString

  private def run(ws: String, sink: AppendSink = ParquetAppendSink): JobSpec = {
    val sp = PipelineQueries.spec(ws)
    new Pipeline(spark, sp,
      src => Relational.scanParquet(spark, s"$sfDir/${src.name}.parquet"),
      sink = sink, retryInitialDelayMs = 1).runAll()
    sp
  }

  private def expectedRows: Long =
    spark.read.parquet(s"$sfDir/lineitem.parquet")
      .where("l_quantity >= 20 AND l_quantity <= 45")
      .join(spark.read.parquet(s"$sfDir/orders.parquet")
        .where("o_orderstatus = 'F' AND o_orderpriority IN ('1-URGENT','2-HIGH','3-MEDIUM')"),
        expr("l_orderkey = o_orderkey"))
      .join(spark.read.parquet(s"$sfDir/customer.parquet"), expr("o_custkey = c_custkey"))
      .join(spark.read.parquet(s"$sfDir/nation.parquet")
        .where("n_name IN ('NATION_1','NATION_3','NATION_5','NATION_7','NATION_9','NATION_11')"),
        expr("c_nationkey = n_nationkey"))
      .count()

  private def expr(s: String) = org.apache.spark.sql.functions.expr(s)

  private def lease(ws: String, ttlMs: Long = 15 * 60 * 1000) =
    new LockFile(spark.sparkContext.hadoopConfiguration, new Path(ws, "_LEASE"), ttlMs)

  test("full run: staged layout, checkpoints, and loaded rows") {
    val sp = run(freshWorkspace())
    val storage = new Storage(spark.sparkContext.hadoopConfiguration)
    assert(storage.datasetExists(sp.rawDir("lineitem")))
    assert(storage.datasetExists(sp.rawDir("nation")))
    assert(storage.datasetExists(sp.transformedDir("enriched_lineitem")))
    val files = storage.listParquet(sp.transformedDir("enriched_lineitem"))
    assert(files.nonEmpty)
    files.foreach { f =>
      val name = f.substring(f.lastIndexOf('/') + 1)
      assert(storage.checkpointExists(sp.checkpointDir("enriched_lineitem"), name))
    }
    val loaded = spark.read.parquet(sp.targetDir("enriched_lineitem"))
    assert(loaded.count() === expectedRows)
    assert(loaded.columns.sorted === Array("customer_name", "line_no", "nation",
      "order_id", "price", "priority", "qty", "segment"))
  }

  test("vacuum: staging residue removed only once fully committed; target intact") {
    val ws = freshWorkspace()
    val sp = PipelineQueries.spec(ws)
    val p = new Pipeline(spark, sp,
      src => Relational.scanParquet(spark, s"$sfDir/${src.name}.parquet"),
      retryInitialDelayMs = 1)
    val storage = new Storage(spark.sparkContext.hadoopConfiguration)
    // nothing loaded yet → refuses
    assert(!p.vacuum("enriched_lineitem"))
    p.runAll()
    // knock out one checkpoint marker → "incomplete load" → refuses
    val files = storage.listParquet(sp.transformedDir("enriched_lineitem"))
    val name0 = files.head.substring(files.head.lastIndexOf('/') + 1)
    storage.delete(storage.checkpointMarker(
      sp.checkpointDir("enriched_lineitem"), name0).toString)
    assert(!p.vacuum("enriched_lineitem"),
      "must refuse while a transformed file is unconfirmed")
    storage.createCheckpoint(sp.checkpointDir("enriched_lineitem"), name0)
    // fully committed → vacuums staging + checkpoints, keeps the target
    assert(p.vacuum("enriched_lineitem"))
    assert(!storage.datasetExists(sp.transformedDir("enriched_lineitem")))
    assert(!storage.datasetExists(sp.rawDir("lineitem")))
    assert(!new java.io.File(sp.checkpointDir("enriched_lineitem")).exists())
    assert(spark.read.parquet(sp.targetDir("enriched_lineitem")).count()
      === expectedRows)
  }

  test("observed stage counts: extract/transform rows recorded by the write job itself") {
    val ws = freshWorkspace()
    val sp = PipelineQueries.spec(ws)
    val p = new Pipeline(spark, sp,
      src => Relational.scanParquet(spark, s"$sfDir/${src.name}.parquet"),
      retryInitialDelayMs = 1)
    p.runAll()
    // the observe-derived counts equal what the staged datasets hold —
    // the reference's py:124/py:148 counts without their extra scans
    assert(p.stageCounts("enriched_lineitem/transform") === expectedRows)
    val rawLineitem = spark.read.parquet(sp.rawDir("lineitem")).count()
    assert(p.stageCounts("enriched_lineitem/extract_lineitem") === rawLineitem)
    assert(p.stageCounts.keySet.exists(_.endsWith("extract_nation")))
    // resume run stages nothing → observes nothing
    val p2 = new Pipeline(spark, sp,
      src => Relational.scanParquet(spark, s"$sfDir/${src.name}.parquet"),
      retryInitialDelayMs = 1)
    p2.runAll()
    assert(p2.stageCounts.isEmpty)
  }

  test("footer row counts match data row counts") {
    val sp = run(freshWorkspace())
    val storage = new Storage(spark.sparkContext.hadoopConfiguration)
    val files = storage.listParquet(sp.transformedDir("enriched_lineitem"))
    val footerTotal = files.map(storage.footerRowCount).sum
    assert(footerTotal === expectedRows)
  }

  test("re-run is a no-op: no duplicate loads (checkpoint skip)") {
    val ws = freshWorkspace()
    val sp = run(ws)
    val before = spark.read.parquet(sp.targetDir("enriched_lineitem")).count()
    run(ws) // second run: transformed exists → straight to load → all skipped
    val after = spark.read.parquet(sp.targetDir("enriched_lineitem")).count()
    assert(after === before)
  }

  test("kill-and-resume: only non-checkpointed files are re-loaded") {
    val ws = freshWorkspace()
    val sp = run(ws)
    val storage = new Storage(spark.sparkContext.hadoopConfiguration)
    val files = storage.listParquet(sp.transformedDir("enriched_lineitem"))
    assert(files.size >= 2, "need >=2 staged files to exercise partial resume")
    // simulate a crash after loading all but one file: drop the target
    // rows of one file and its checkpoint marker
    val victim = files.head
    val victimName = victim.substring(victim.lastIndexOf('/') + 1)
    val victimRows = storage.footerRowCount(victim)
    storage.delete(sp.targetDir("enriched_lineitem"))
    storage.delete(storage.checkpointMarker(
      sp.checkpointDir("enriched_lineitem"), victimName).toString)
    run(ws)
    // resume appended ONLY the victim file into the (emptied) target
    val after = spark.read.parquet(sp.targetDir("enriched_lineitem")).count()
    assert(after === victimRows)
  }

  test("at-least-once: append sink + post-write checkpoint") {
    // A sink that fails once mid-loop: the retry re-enters the whole
    // loop; files checkpointed before the crash are skipped.
    val ws = freshWorkspace()
    var appends = 0
    var failed = false
    val flaky = new AppendSink {
      def append(df: DataFrame, target: String): Unit = {
        if (appends == 1 && !failed) { failed = true; throw new RuntimeException("boom") }
        appends += 1
        ParquetAppendSink.append(df, target)
      }
    }
    val sp = run(ws, sink = flaky)
    val storage = new Storage(spark.sparkContext.hadoopConfiguration)
    val files = storage.listParquet(sp.transformedDir("enriched_lineitem"))
    assert(failed, "flaky sink should have thrown once")
    assert(appends === files.size, "each file appended exactly once despite the crash")
    assert(spark.read.parquet(sp.targetDir("enriched_lineitem")).count() === expectedRows)
  }

  test("JobSpec JSON round-trip (config is the query language)") {
    val sp = PipelineQueries.spec("/tmp/ws")
    val json = JobSpec.toJson(sp)
    val back = JobSpec.fromJson(json)
    assert(back === sp)
    // hand-written JSON with unknown fields parses too
    val hand = JobSpec.fromJson(
      """{"workspace":"/tmp/x","unknown_field":1,"tables":[
        |{"targetTable":"t","sources":[{"name":"a","filter":"x > 1"}],
        |"root":"a","joins":[],"transformedColumns":["x AS y"]}]}""".stripMargin)
    assert(hand.tables.head.sources.head.filter === Some("x > 1"))
    assert(hand.tables.head.sources.head.numPartitions === 4)
  }

  test("exactly-once sink: crash between write and checkpoint does not duplicate") {
    // a sink that crashes AFTER its first successful write but BEFORE
    // the pipeline checkpoints it — the worst-case window of SURVEY §3.4
    final class CrashOnceAfterWrite(inner: AppendSink) extends AppendSink {
      var writes = 0
      var crashed = false
      def append(df: DataFrame, target: String): Unit =
        append(df, target, "")
      override def append(df: DataFrame, target: String, sourceFile: String): Unit = {
        inner.append(df, target, sourceFile)
        writes += 1
        if (writes == 1 && !crashed) { crashed = true; throw new RuntimeException("crash-after-write") }
      }
    }
    // at-least-once (plain append): the crashed file's rows appear twice
    val ws1 = freshWorkspace()
    run(ws1, sink = new CrashOnceAfterWrite(ParquetAppendSink))
    val dupRows = spark.read.parquet(
      PipelineQueries.spec(ws1).targetDir("enriched_lineitem")).count()
    assert(dupRows > expectedRows, "plain append after crash should duplicate")
    // exactly-once (idempotent overwrite by source file): no duplicates
    val ws2 = freshWorkspace()
    run(ws2, sink = new CrashOnceAfterWrite(IdempotentParquetSink))
    val exactRows = spark.read.parquet(
      PipelineQueries.spec(ws2).targetDir("enriched_lineitem")).count()
    assert(exactRows === expectedRows)
  }

  test("run a job from on-disk JSON config (the config IS the query)") {
    val json = new String(Files.readAllBytes(
      java.nio.file.Paths.get("examples/job_enriched_lineitem.json")), "UTF-8")
    val ws = freshWorkspace()
    val sp = JobSpec.fromJson(json).copy(workspace = ws)
    assert(sp.tables.head.targetTable === "enriched_lineitem_json")
    assert(sp.tables.head.sources.map(_.name) ===
      Seq("lineitem", "orders", "customer", "nation"))
    new Pipeline(spark, sp,
      src => Relational.scanParquet(spark, s"$sfDir/${src.name}.parquet"),
      retryInitialDelayMs = 1).runAll()
    val loaded = spark.read.parquet(sp.targetDir("enriched_lineitem_json"))
    assert(loaded.count() === expectedRows)
  }

  test("bucketed-staging example config runs end-to-end with row parity") {
    val json = new String(Files.readAllBytes(
      java.nio.file.Paths.get("examples/job_bucketed_staging.json")), "UTF-8")
    val ws = freshWorkspace()
    val sp = JobSpec.fromJson(json).copy(workspace = ws)
    assert(sp.tables.head.sources.count(_.bucketKey.isDefined) === 2)
    new Pipeline(spark, sp,
      src => Relational.scanParquet(spark, s"$sfDir/${src.name}.parquet"),
      retryInitialDelayMs = 1).runAll()
    val want = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .where("l_quantity >= 20 AND l_quantity <= 45")
      .join(spark.read.parquet(s"$sfDir/orders.parquet")
        .where("o_orderstatus = 'F'"), expr("l_orderkey = o_orderkey"))
      .join(spark.read.parquet(s"$sfDir/customer.parquet"),
        expr("o_custkey = c_custkey"))
      .count()
    assert(spark.read.parquet(sp.targetDir("enriched_lineitem_bucketed"))
      .count() === want)
  }

  test("bucketed staging: same results, exchange-free join on resume") {
    val ws = freshWorkspace()
    val base = PipelineQueries.spec(ws)
    val t = base.tables.head
    // bucket both sides of the lineitem⋈orders edge on the join key
    val bucketed = base.copy(tables = Seq(t.copy(sources = t.sources.map {
      case s if s.name == "lineitem" =>
        s.copy(bucketKey = Some("l_orderkey"), numBuckets = 4)
      case s if s.name == "orders" =>
        s.copy(bucketKey = Some("o_orderkey"), numBuckets = 4)
      case s => s
    })))
    new Pipeline(spark, bucketed,
      src => Relational.scanParquet(spark, s"$sfDir/${src.name}.parquet"),
      retryInitialDelayMs = 1).runAll()
    val loaded = spark.read.parquet(bucketed.targetDir("enriched_lineitem"))
    assert(loaded.count() === expectedRows)

    // the staged bucket tables exist in the catalog, and the phase-2
    // join edge on the bucket key plans with NO shuffle exchange
    val tables = spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith("graft_raw_"))
    assert(tables.exists(_.startsWith("graft_raw_lineitem_")))
    assert(tables.exists(_.startsWith("graft_raw_orders_")))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val li = spark.table(tables.find(_.startsWith("graft_raw_lineitem_")).get)
      val o = spark.table(tables.find(_.startsWith("graft_raw_orders_")).get)
      val plan = li.join(o, li("l_orderkey") === o("o_orderkey"))
        .queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed staging should make the join exchange-free:\n$plan")
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")

    // resume: a second run skips extract (tables exist) and re-delivers
    // nothing new (checkpoints hold)
    new Pipeline(spark, bucketed,
      src => Relational.scanParquet(spark, s"$sfDir/${src.name}.parquet"),
      retryInitialDelayMs = 1).runAll()
    assert(spark.read.parquet(bucketed.targetDir("enriched_lineitem"))
      .count() === expectedRows)
  }

  test("vacuum: bucketed staging drops the catalog table and its storage") {
    val ws = freshWorkspace()
    val base = PipelineQueries.spec(ws)
    val t = base.tables.head
    val bucketed = base.copy(tables = Seq(t.copy(sources = t.sources.map {
      case s if s.name == "orders" =>
        s.copy(bucketKey = Some("o_orderkey"), numBuckets = 4)
      case s => s
    })))
    val p = new Pipeline(spark, bucketed,
      src => Relational.scanParquet(spark, s"$sfDir/${src.name}.parquet"),
      retryInitialDelayMs = 1)
    p.runAll()
    // exact per-workspace name (a prefix search could land on another
    // test's staged table from a different, un-vacuumed workspace)
    val tbl = s"graft_raw_orders_${Integer.toHexString(ws.hashCode)}"
    assert(spark.catalog.tableExists(tbl))
    val loc = spark.sql(s"DESCRIBE FORMATTED $tbl").collect()
      .find(_.getString(0).trim == "Location").map(_.getString(1).trim).get
    val locPath = new org.apache.hadoop.fs.Path(loc)
    val fs = locPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(locPath), "staged bucket table data must exist pre-vacuum")
    assert(p.vacuum("enriched_lineitem"))
    assert(!spark.catalog.tableExists(tbl),
      "vacuum must drop the staged bucket table from the catalog")
    assert(!fs.exists(locPath),
      "vacuum must remove the staged bucket table's storage")
    // the loaded target is untouched
    assert(spark.read.parquet(bucketed.targetDir("enriched_lineitem"))
      .count() === expectedRows)
  }

  test("vacuum: bucketed orphan files with NO catalog entry are swept") {
    // a staged-table write that dies before committing to the catalog
    // leaves files at the default managed location with no table
    // pointing at them; vacuum must sweep that derivable path like the
    // non-bucketed branch's unconditional rawDir delete
    val ws = freshWorkspace()
    val base = PipelineQueries.spec(ws)
    val t = base.tables.head
    val bucketed = base.copy(tables = Seq(t.copy(sources = t.sources.map {
      case s if s.name == "orders" =>
        s.copy(bucketKey = Some("o_orderkey"), numBuckets = 4)
      case s => s
    })))
    val p = new Pipeline(spark, bucketed,
      src => Relational.scanParquet(spark, s"$sfDir/${src.name}.parquet"),
      retryInitialDelayMs = 1)
    p.runAll()
    // simulate the half-dead write: drop the catalog entry but leave
    // (recreate) files at the default warehouse location for the table
    val tbl = s"graft_raw_orders_${Integer.toHexString(ws.hashCode)}"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    val orphan = new java.io.File(s"$wh/$tbl")
    orphan.mkdirs()
    val stray = new java.io.File(orphan, "part-orphan.parquet")
    java.nio.file.Files.write(stray.toPath, Array[Byte](1, 2, 3))
    assert(p.vacuum("enriched_lineitem"))
    assert(!orphan.exists(),
      "vacuum must sweep orphan bucket-table files when the catalog entry is absent")
    assert(spark.read.parquet(bucketed.targetDir("enriched_lineitem"))
      .count() === expectedRows)
  }

  test("bucketed staging: lost table data is detected and rebuilt") {
    val ws = freshWorkspace()
    val base = PipelineQueries.spec(ws)
    val t = base.tables.head
    val bucketed = base.copy(tables = Seq(t.copy(sources = t.sources.map {
      case s if s.name == "nation" => s.copy(bucketKey = Some("n_nationkey"))
      case s => s
    })))
    def runIt(): Pipeline = {
      val p = new Pipeline(spark, bucketed,
        src => Relational.scanParquet(spark, s"$sfDir/${src.name}.parquet"),
        retryInitialDelayMs = 1)
      p.runAll()
      p
    }
    runIt()
    assert(spark.read.parquet(bucketed.targetDir("enriched_lineitem"))
      .count() === expectedRows)

    // simulate storage loss: delete the table's files but keep the
    // catalog entry (what a job death between commit and write, or a
    // lost volume, leaves behind)
    val tbl = spark.catalog.listTables().collect().map(_.name)
      .find(_.startsWith("graft_raw_nation_")).get
    val loc = spark.sql(s"DESCRIBE FORMATTED $tbl").collect()
      .find(_.getString(0).trim == "Location").get.getString(1).trim
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(loc), spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(new org.apache.hadoop.fs.Path(loc), true))
    spark.catalog.refreshTable(tbl)
    // wipe downstream state so the table is actually needed again
    val storage = new Storage(spark.sparkContext.hadoopConfiguration)
    assert(new scala.reflect.io.Directory(
      new java.io.File(ws)).deleteRecursively())

    val rebuilt = runIt() // must detect the unreadable table and rebuild it
    val nationRows = spark.table(tbl).count()
    assert(nationRows > 0)
    // the rebuild is an extract like any other: its row count is observed
    assert(rebuilt.stageCounts.get("enriched_lineitem/extract_nation") === Some(nationRows))
    assert(spark.read.parquet(bucketed.targetDir("enriched_lineitem"))
      .count() === expectedRows)
  }

  test("forked-JVM kill mid-load: resume delivers exactly once") {
    val ws = freshWorkspace()
    val java = s"${System.getProperty("java.home")}/bin/java"
    val cp = System.getProperty("java.class.path")
    val pb = new ProcessBuilder(java, "-cp", cp, "-Xmx2g",
      "graft.CrashLoadMain", ws, sfDir, "1")
    pb.redirectErrorStream(true)
    val proc = pb.start()
    val out = scala.io.Source.fromInputStream(proc.getInputStream).mkString
    val rc = proc.waitFor()
    assert(rc === 137, s"expected the forked JVM to halt(137), got $rc:\n$out")

    // the crash window: >=1 file's data landed without its checkpoint
    val sp = PipelineQueries.spec(ws)
    val storage = new Storage(spark.sparkContext.hadoopConfiguration)
    val files = storage.listParquet(sp.transformedDir("enriched_lineitem"))
    assert(files.nonEmpty, s"transform phase should have completed:\n$out")
    val unCheckpointed = files.map(f => f.substring(f.lastIndexOf('/') + 1))
      .filterNot(n => storage.checkpointExists(sp.checkpointDir("enriched_lineitem"), n))
    assert(unCheckpointed.nonEmpty, "crash should leave a written-but-unmarked file")

    // the dead JVM also left its workspace lease behind — the resume
    // takes it over via TTL expiry (leaseTtlMs=1: any mtime is stale)
    // rather than failing WorkspaceBusy forever
    assert(new _root_.java.io.File(ws, "_LEASE").exists(),
      "crashed run should leave its lease marker")

    // resume in-process with the same idempotent sink: the unmarked
    // file re-runs as an overwrite of the same src= path → exactly once
    new Pipeline(spark, sp,
      src => Relational.scanParquet(spark, s"$sfDir/${src.name}.parquet"),
      sink = IdempotentParquetSink, retryInitialDelayMs = 1, leaseTtlMs = 1).runAll()
    val loaded = spark.read.parquet(sp.targetDir("enriched_lineitem"))
    assert(loaded.count() === expectedRows)
  }

  test("workspace lease: exclusivity, release, TTL takeover, renew") {
    val ws = freshWorkspace()
    val a = lease(ws)
    val b = lease(ws)
    assert(a.tryAcquire())
    assert(!b.tryAcquire(), "second writer must not acquire a held lease")
    assert(a.isHeld && !b.isHeld)
    a.release()
    assert(b.tryAcquire(), "released lease must be acquirable")
    b.release()

    // TTL takeover: a holder that died without releasing
    val dead = lease(ws, ttlMs = 50)
    assert(dead.tryAcquire())
    val taker = lease(ws, ttlMs = 50)
    Thread.sleep(120)
    assert(taker.tryAcquire(), "expired lease must be taken over")
    assert(!dead.isHeld, "takeover replaces the dead holder's marker")
    dead.release() // no-op: must not release someone else's lease
    assert(taker.isHeld)

    // renew restarts the TTL window
    Thread.sleep(120)
    taker.renew()
    val late = lease(ws, ttlMs = 1000)
    assert(!late.tryAcquire(), "renewed lease is not expired")
    taker.release()
  }

  test("workspace lease: racing takeovers of one expired lease elect exactly one holder") {
    val ws = freshWorkspace()
    (1 to 25).foreach { round =>
      val dead = lease(ws)
      assert(dead.tryAcquire())
      assert(new java.io.File(ws, "_LEASE")
        .setLastModified(System.currentTimeMillis() - 60000L))
      val contenders = Seq(lease(ws, ttlMs = 10000), lease(ws, ttlMs = 10000))
      val gate = new java.util.concurrent.CountDownLatch(1)
      val acquired = new java.util.concurrent.ConcurrentLinkedQueue[LockFile]()
      val threads = contenders.map { c =>
        val th = new Thread(() => { gate.await(); if (c.tryAcquire()) acquired.add(c) })
        th.start(); th
      }
      gate.countDown()
      threads.foreach(_.join(30000))
      assert(acquired.size === 1, s"round $round: ${acquired.size} holders")
      val winner = acquired.peek()
      val loser = contenders.find(_ ne winner).get
      assert(!dead.isHeld && !loser.isHeld)
      loser.release()
      assert(winner.isHeld, s"round $round: the loser's release dropped the winner")
      winner.release()
    }
  }

  test("q_migrate_v2_e2e leaves the session conf as it found it") {
    // a fresh session: an earlier pipeline run in the shared one must
    // not have set (and so hidden) what this run would set
    val s = spark.newSession()
    val confBefore = s.conf.getAll
    assert(Catalog.byName("q_migrate_v2_e2e").fn(s, sfDir).collect().nonEmpty)
    assert(s.conf.getAll === confBefore)
  }

  test("two concurrent pipelines on one workspace: one runs, one fails fast") {
    val ws = freshWorkspace()
    val sp = PipelineQueries.spec(ws)
    def mk() = new Pipeline(spark, sp,
      src => Relational.scanParquet(spark, s"$sfDir/${src.name}.parquet"),
      sink = IdempotentParquetSink, retryInitialDelayMs = 1)
    val results = new java.util.concurrent.ConcurrentLinkedQueue[Either[Throwable, Unit]]()
    val gate = new java.util.concurrent.CountDownLatch(1)
    val threads = (1 to 2).map { _ =>
      val th = new Thread(() => {
        gate.await()
        results.add(
          try Right(mk().runAll())
          catch { case t: Throwable => Left(t) })
      })
      th.start(); th
    }
    gate.countDown()
    threads.foreach(_.join(300000))
    val (failed, ok) = results.toArray(Array.empty[Either[Throwable, Unit]])
      .partition(_.isLeft)
    assert(ok.length === 1, s"exactly one writer should win: $results")
    assert(failed.length === 1)
    failed.head.left.foreach(t =>
      assert(t.isInstanceOf[WorkspaceBusyException], s"unexpected failure: $t"))
    // the winner's output is complete and exactly-once
    assert(spark.read.parquet(sp.targetDir("enriched_lineitem"))
      .count() === expectedRows)
  }

  test("retry: backoff then success; exhaustion rethrows") {
    var calls = 0
    val r = Retry.retry(attempts = 3, initialDelayMs = 1) {
      calls += 1
      if (calls < 3) throw new RuntimeException("transient")
      42
    }
    assert(r === 42 && calls === 3)
    var calls2 = 0
    val e = intercept[RuntimeException] {
      Retry.retry(attempts = 3, initialDelayMs = 1) {
        calls2 += 1; throw new RuntimeException("permanent")
      }
    }
    assert(e.getMessage === "permanent" && calls2 === 3)
  }
}
