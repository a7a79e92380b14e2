package graft

import graft.graph.{KgQueries, KgSession}
import graft.run.Pipeline
import graft.tables.TableIO
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

class TableIOSpec extends SparkSuite {
  import spark.implicits._

  test("snapshot commit is atomic and versioned; CURRENT repoints") {
    val dir = tmpDir("snap")
    TableIO.commitSnapshot(Seq(1, 2, 3).toDF("x"), dir, "t")
    assert(TableIO.currentSnapshot(dir).contains("snap-00000"))
    assert(TableIO.readCurrent(spark, dir).count() == 3)
    TableIO.commitSnapshot(Seq(1, 2, 3, 4).toDF("x"), dir, "t")
    assert(TableIO.currentSnapshot(dir).contains("snap-00001"))
    assert(TableIO.readCurrent(spark, dir).count() == 4)
    // per-partition lineage manifest exists
    assert(Files.exists(Paths.get(dir, "_manifest", "snap-00001.json")))
  }

  test("concurrent commits to one table dir claim distinct snapshot ids, never interleave") {
    val dir = tmpDir("snapRace")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val fs = (1 to 4).map { i =>
        Future(TableIO.commitSnapshot(Seq.fill(i * 10)(i).toDF("x"), dir, "t"))
      }
      Await.result(Future.sequence(fs), 120.seconds)
    } finally pool.shutdown()
    val snaps = TableIO.listSnapshots(dir)
    assert(snaps == Seq(0, 1, 2, 3), snaps.toString)
    // every snapshot is complete and internally consistent: one writer's
    // rows only (counts are 10/20/30/40 in some order, each homogeneous)
    val counts = snaps.map(s => TableIO.readSnapshot(spark, dir, s))
      .map(df => df.select("x").distinct().count() -> df.count())
    assert(counts.forall(_._1 == 1), counts.toString)
    assert(counts.map(_._2).sorted == Seq(10L, 20L, 30L, 40L), counts.toString)
    assert(TableIO.currentSnapshot(dir).exists(_.startsWith("snap-0000")))
  }

  test("bucketed stage: runs, records lineage, resumes by skipping committed buckets") {
    val in = tmpDir("in")
    val stage = tmpDir("stage")
    TableIO.bucketize(
      (0 until 100).map(i => (f"doc-$i%04d", i)).toDF("doc_id", "v"), "doc_id", 4, in)

    val out1 = TableIO.runBucketed(spark, "s", in, stage, 4, 2)(df =>
      df.withColumn("v2", col("v") * 2))
    assert(out1.count() == 100)
    val metas = (0 until 4).map(b =>
      TableIO.readPartitionMeta(Paths.get(stage, "_manifest", f"bucket-$b%04d.json")).get)
    assert(metas.forall(_.status == "committed"))
    assert(metas.map(_.input_rows).sum == 100)
    assert(metas.map(_.output_rows).sum == 100)

    // second run: transform would crash if executed — committed buckets skip it
    val out2 = TableIO.runBucketed(spark, "s", in, stage, 4, 2)(_ =>
      throw new RuntimeException("must not run"))
    assert(out2.select(sum(col("v2"))).as[Long].head() ==
      (0 until 100).map(_ * 2).sum)
  }

  test("bucketed stage: a committed bucket whose part files are gone is recomputed on resume") {
    val in = tmpDir("inGone")
    val stage = tmpDir("stageGone")
    TableIO.bucketize(
      (0 until 100).map(i => (f"doc-$i%04d", i)).toDF("doc_id", "v"), "doc_id", 4, in)
    TableIO.runBucketed(spark, "s", in, stage, 4, 2)(df => df.withColumn("v2", col("v") * 2))
    val meta = TableIO.readPartitionMeta(Paths.get(stage, "_manifest", "bucket-0001.json")).get
    assert(meta.output_rows > 0)
    val st = Files.list(Paths.get(stage, "data", "bucket=1"))
    try st.iterator().asScala.filter(_.toString.endsWith(".parquet")).foreach(Files.delete)
    finally st.close()
    // the resumed call reruns bucket 1 only, and reads back every row
    val ran = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val out = TableIO.runBucketed(spark, "s", in, stage, 4, 2) { df =>
      ran.add(df.inputFiles.mkString(","))
      df.withColumn("v2", col("v") * 2)
    }
    assert(ran.size == 1 && ran.peek.contains("bucket=1/"), ran.toString)
    assert(out.count() == 100)
    assert(out.select(sum(col("v2"))).as[Long].head() == (0 until 100).map(_ * 2).sum)
  }

  test("kill-and-restart: failed bucket re-runs, result identical to a clean run") {
    val in = tmpDir("in2")
    val stage = tmpDir("stage2")
    TableIO.bucketize(
      (0 until 80).map(i => (f"doc-$i%04d", i)).toDF("doc_id", "v"), "doc_id", 4, in)

    // first attempt dies on one bucket (simulated kill mid-stage; retries off)
    val poison = new java.util.concurrent.atomic.AtomicInteger(0)
    intercept[Exception] {
      TableIO.runBucketed(spark, "s", in, stage, 4, 1, maxRetries = 0) { df =>
        if (poison.incrementAndGet() == 3) throw new RuntimeException("boom")
        df.withColumn("v2", col("v") + 1)
      }
    }
    val committedBefore = (0 until 4).flatMap(b =>
      TableIO.readPartitionMeta(Paths.get(stage, "_manifest", f"bucket-$b%04d.json")))
    assert(committedBefore.nonEmpty && committedBefore.size < 4)

    // restart: completes the rest; equals a from-scratch run
    val out = TableIO.runBucketed(spark, "s", in, stage, 4, 1)(df =>
      df.withColumn("v2", col("v") + 1))
    val clean = tmpDir("stage3")
    val outClean = TableIO.runBucketed(spark, "s", in, clean, 4, 2)(df =>
      df.withColumn("v2", col("v") + 1))
    assert(out.select("doc_id", "v", "v2").as[(String, Int, Int)].collect().sortBy(_._1).toSeq ==
      outClean.select("doc_id", "v", "v2").as[(String, Int, Int)].collect().sortBy(_._1).toSeq)
  }

  test("per-bucket retry with backoff recovers from transient failures (X5)") {
    val in = tmpDir("in3")
    val stage = tmpDir("stage4")
    TableIO.bucketize(
      (0 until 40).map(i => (f"doc-$i%04d", i)).toDF("doc_id", "v"), "doc_id", 2, in)
    val flaky = new java.util.concurrent.atomic.AtomicInteger(0)
    val out = TableIO.runBucketed(spark, "s", in, stage, 2, 1,
      maxRetries = 2, backoffMs = 10L) { df =>
      if (flaky.incrementAndGet() <= 2) throw new java.io.IOException("transient")
      df.withColumn("v2", col("v") * 3)
    }
    assert(out.count() == 40)
    assert(flaky.get() >= 3) // at least two failures were retried through
  }

  test("deterministic failures rethrow immediately — no retry, no backoff delay (X5 taxonomy)") {
    val in = tmpDir("in4")
    val stage = tmpDir("stage5")
    TableIO.bucketize(
      (0 until 20).map(i => (f"doc-$i%04d", i)).toDF("doc_id", "v"), "doc_id", 1, in)
    val attempts = new java.util.concurrent.atomic.AtomicInteger(0)
    intercept[Exception] {
      TableIO.runBucketed(spark, "s", in, stage, 1, 1,
        maxRetries = 5, backoffMs = 60000L) { _ =>
        attempts.incrementAndGet()
        // an unknown RuntimeException is a bug, not weather: the whitelist
        // taxonomy must NOT burn 5 × 60s backoffs re-running it
        throw new NumberFormatException("deterministic bug")
      }
    }
    assert(attempts.get() == 1, s"deterministic failure was retried ${attempts.get()} times")
  }

  test("isRetryable: Spark's actual cause-less failure strings classify correctly (X5 taxonomy)") {
    // ExecutorLostFailure reaches the driver as a cause-less SparkException
    // whose message embeds TaskEndReason.toErrorString — one word, no space
    assert(TableIO.isRetryable(new org.apache.spark.SparkException(
      "Job aborted due to stage failure: ExecutorLostFailure (executor 1 exited caused by one of the running tasks)")))
    assert(TableIO.isRetryable(new org.apache.spark.SparkException(
      "Task failed: FetchFailed(BlockManagerId(1, host, 7337, None))")))
    // cause-less deterministic shapes stay non-retryable
    assert(!TableIO.isRetryable(new org.apache.spark.SparkException(
      "Job aborted due to stage failure: assertion failed: bad plan")))
    assert(!TableIO.isRetryable(new RuntimeException("ExecutorLostFailure")))
  }

  test("delta commits: tick write volume is O(batch); readers union the chain; compaction bounds it") {
    val dir = tmpDir("delta")
    TableIO.commitSnapshot((1 to 100).map(i => (i.toLong, "base")).toDF("id", "src"), dir, "t")
    TableIO.commitDelta(Seq((101L, "d1")).toDF("id", "src"), dir, "t")
    TableIO.commitDelta(Seq((102L, "d2"), (103L, "d2")).toDF("id", "src"), dir, "t")
    assert(TableIO.readCurrent(spark, dir).count() == 103)
    // each delta snapshot dir holds ONLY its tick's rows
    assert(TableIO.parquetRowCount(s"$dir/snap-00001") == 1)
    assert(TableIO.parquetRowCount(s"$dir/snap-00002") == 2)
    // time travel resolves the chain at each snapshot
    assert(TableIO.readSnapshot(spark, dir, 0).count() == 100)
    assert(TableIO.readSnapshot(spark, dir, 1).count() == 101)
    assert(TableIO.snapshotChain(dir, 2) == Seq(2, 1, 0))
    // a chain at maxChain compacts: the next commit is a full rewrite
    TableIO.commitDelta(Seq((104L, "d3")).toDF("id", "src"), dir, "t", maxChain = 3)
    assert(TableIO.readCurrent(spark, dir).count() == 104)
    assert(TableIO.parquetRowCount(s"$dir/snap-00003") == 104)
    assert(TableIO.snapshotChain(dir, 3) == Seq(3))
  }

  test("a driver-written delta reads back as Spark's writer's file; the manifests agree") {
    import org.apache.spark.sql.types._
    val provType = ArrayType(StructType(Seq(
      StructField("doc_id", StringType), StructField("span_idx", IntegerType),
      StructField("media_ref", StringType))))
    val edges = Seq((1L, 2L, "Relates To", "a sentence"), (3L, 4L, "Part Of", null),
        (5L, 5L, "Is", "self"))
      .toDF("src_id", "dst_id", "pred", "description")
      .select(col("src_id"), col("dst_id"), col("pred"),
        graft.graph.Materialize.normPred(col("pred")).as("pred_norm"),
        lit(0.5).as("strength"), lit(2L).as("n_obs"), col("description"),
        when(col("src_id") === 1L, array(struct(lit("d1"), lit(3), lit(null).cast(StringType))))
          .otherwise(array()).cast(provType).as("provenance"),
        graft.graph.Materialize.CreatedAt.as("created_at"))
    // the driver's writer: a delta onto a one-row base
    val driver = tmpDir("driverDelta")
    TableIO.commitSnapshot(edges.limit(1), driver, "edges")
    TableIO.commitDelta(edges, driver, "edges")
    // Spark's writer: one partition, one file
    val written = tmpDir("sparkWrite")
    TableIO.commitSnapshot(edges.coalesce(1), written, "edges")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().toSeq.sortBy(_.toString)
    val (got, want) = (TableIO.readSnapshots(spark, driver, Seq(1)),
      TableIO.readSnapshots(spark, written, Seq(0)))
    assert(got.schema == want.schema)
    assert(rows(got) == rows(want))
    assert(rows(got) == rows(spark.read.parquet(s"$driver/snap-00001")))
    assert(rows(got).exists(r => r.isNullAt(6)) && rows(got).exists(r => r.getSeq(7).isEmpty))

    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def manifest(dir: String, n: Int) =
      mapper.readTree(Paths.get(dir, "_manifest", f"snap-$n%05d.json").toFile)
    val (m, w) = (manifest(driver, 1), manifest(written, 0))
    assert(m.get("schema") == w.get("schema"))
    assert(m.get("total_rows").asLong == 3L && w.get("total_rows").asLong == 3L)
    assert(m.get("delta_of").asInt == 0)
    def parts(j: com.fasterxml.jackson.databind.JsonNode, dir: String) =
      j.get("partitions").properties.asScala.toSeq.map { e =>
        assert(e.getValue.get("bytes").asLong == Files.size(Paths.get(dir, e.getKey)), e.getKey)
        (e.getValue.get("rows").asLong, e.getValue.get("bytes").asLong)
      }
    val (mp, wp) = (parts(m, s"$driver/snap-00001"), parts(w, s"$written/snap-00000"))
    assert(mp.map(_._1) == Seq(3L) && wp.map(_._1) == Seq(3L))
    assert(mp.map(_._2) == wp.map(_._2), "the two writers' files differ in length")
    // the same writer under the same settings: the files are byte for byte equal
    assert(java.util.Arrays.equals(Files.readAllBytes(partFiles(driver, 1).head),
      Files.readAllBytes(partFiles(written, 0).head)))
  }

  test("a compaction that reads short throws; CURRENT and the old chain stay as they were") {
    val dir = tmpDir("shortCompact")
    TableIO.commitSnapshot((1 to 10).map(i => (i.toLong, "base")).toDF("id", "src"), dir, "t")
    TableIO.commitDelta(Seq((11L, "d1")).toDF("id", "src"), dir, "t")
    val head = TableIO.requireCurrentId(dir)
    val chain = TableIO.snapshotChain(dir, head)
    val roots = TableIO.rootLog(dir)
    // the delta's part file is gone: the compaction's read fails on it
    val st = Files.list(Paths.get(dir, f"snap-$head%05d"))
    try st.iterator().asScala.filter(_.toString.endsWith(".parquet")).foreach(Files.delete)
    finally st.close()
    val e = intercept[Exception] {
      TableIO.commitDelta(Seq((12L, "d2")).toDF("id", "src"), dir, "t", maxChain = 2)
    }
    assert(names(e, f"snap-$head%05d/part-"), messages(e))
    assert(TableIO.requireCurrentId(dir) == head)
    assert(TableIO.snapshotChain(dir, head) == chain)
    assert(TableIO.rootLog(dir) == roots)
    assert(TableIO.readSnapshot(spark, dir, chain.last).count() == 10)
  }

  test("delta commit validates schema against the current snapshot (fail fast, not silent nulls)") {
    val dir = tmpDir("deltaSchema")
    TableIO.commitSnapshot(Seq((1L, "a")).toDF("id", "src"), dir, "t")
    // column-set drift rejected
    val e = intercept[IllegalArgumentException] {
      TableIO.commitDelta(Seq((2L, 5)).toDF("id", "other"), dir, "t")
    }
    assert(e.getMessage.contains("schema"), e.getMessage)
    // type drift on a shared name rejected (id INT vs BIGINT)
    intercept[IllegalArgumentException] {
      TableIO.commitDelta(Seq((2, "b")).toDF("id", "src"), dir, "t")
    }
    // a reordered but name↔type-identical frame commits, and the chain read
    // resolves its values into the right columns (files stay column-aligned)
    TableIO.commitDelta(Seq(("b", 2L)).toDF("src", "id"), dir, "t")
    val cur = TableIO.readCurrent(spark, dir)
    assert(cur.count() == 2)
    assert(cur.filter(col("src") === "b").select("id").as[Long].head() == 2L)
  }

  test("concurrent in-JVM delta appenders serialize — every appended row survives the chain") {
    val dir = tmpDir("deltaRace")
    TableIO.commitSnapshot((1 to 10).map(i => (i.toLong, "base")).toDF("id", "src"), dir, "t")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val fs = (0 until 8).map { i =>
        Future(TableIO.commitDelta(Seq((100L + i, s"d$i")).toDF("id", "src"), dir, "t"))
      }
      Await.result(Future.sequence(fs), 120.seconds)
    } finally pool.shutdown()
    // no silent row loss: the chain holds base + all 8 single-row deltas,
    // each delta snapshot containing exactly its own row
    assert(TableIO.readCurrent(spark, dir).count() == 18)
    TableIO.listSnapshots(dir).drop(1).foreach(s =>
      assert(TableIO.parquetRowCount(f"$dir/snap-$s%05d") == 1))
  }

  test("a cross-process appender moving CURRENT mid-commit fails the delta loudly") {
    val dir = tmpDir("deltaCas")
    TableIO.commitSnapshot(Seq((1L, "a")).toDF("id", "src"), dir, "t")
    // a frame whose evaluation (during the delta's parquet write, i.e.
    // between reading the chain head and repointing) moves CURRENT —
    // simulating another PROCESS's commit landing mid-flight
    val sneakyDir = dir
    val sneaky = Seq((2L, "b")).toDF("id", "src").as[(Long, String)]
      .map { r =>
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(sneakyDir, "CURRENT"), "snap-00042")
        r
      }.toDF("id", "src")
    intercept[java.util.ConcurrentModificationException] {
      TableIO.commitDelta(sneaky, dir, "t")
    }
  }

  test("CURRENT only advances: a commit cannot repoint it backwards") {
    val dir = tmpDir("mono")
    TableIO.commitSnapshot(Seq(1).toDF("x"), dir, "t")
    // simulate a faster writer having already pointed CURRENT ahead
    Files.writeString(Paths.get(dir, "CURRENT"), "snap-00099")
    TableIO.commitSnapshot(Seq(1, 2).toDF("x"), dir, "t") // claims snap-00001
    assert(TableIO.currentSnapshot(dir).contains("snap-00099"),
      "slow writer must not repoint CURRENT backwards")
  }

  test("vacuum: deletes only snapshots unreachable from the retained roots; retained time travel intact") {
    val dir = tmpDir("vac")
    TableIO.commitSnapshot(Seq((1L, "a")).toDF("id", "src"), dir, "t") // 0 full
    TableIO.commitDelta(Seq((2L, "b")).toDF("id", "src"), dir, "t")    // 1 Δ0
    TableIO.commitDelta(Seq((3L, "c")).toDF("id", "src"), dir, "t")    // 2 Δ1
    TableIO.commitSnapshot((1L to 4L).map((_, "r")).toDF("id", "src"), dir, "t") // 3 full
    TableIO.commitDelta(Seq((5L, "d")).toDF("id", "src"), dir, "t")    // 4 Δ3
    // an id BEYOND CURRENT = a concurrent committer mid-write: untouchable
    Files.createDirectory(Paths.get(dir, "snap-00007"))

    // retainLast=2 roots are {4, 3}; both chains bottom out at full snap 3,
    // so the old chain 0←1←2 is garbage
    assert(TableIO.vacuum(dir, retainLast = 2).toSet == Set(0, 1, 2))
    assert(TableIO.listSnapshots(dir) == Seq(3, 4, 7))
    assert(!Files.exists(Paths.get(dir, "_manifest", "snap-00000.json")))
    assert(Files.exists(Paths.get(dir, "_manifest", "snap-00003.json")))
    // current read and time travel WITHIN the retention window still work
    assert(TableIO.readCurrent(spark, dir).count() == 5)
    assert(TableIO.readSnapshot(spark, dir, 3).count() == 4)
    // idempotent; and a vacuum on a table with no CURRENT is a no-op
    assert(TableIO.vacuum(dir, retainLast = 2).isEmpty)
    assert(TableIO.vacuum(tmpDir("vacEmpty")).isEmpty)
  }

  test("vacuum retains a root's WHOLE delta chain, including a base older than the window") {
    val dir = tmpDir("vacChain")
    TableIO.commitSnapshot(Seq((1L, "a")).toDF("id", "src"), dir, "t") // 0 full
    (2L to 5L).foreach(i =>
      TableIO.commitDelta(Seq((i, s"d$i")).toDF("id", "src"), dir, "t")) // 1-4 Δ
    // retainLast=2 roots {4, 3}: chains 4←3←2←1←0 — EVERYTHING is reachable
    assert(TableIO.vacuum(dir, retainLast = 2).isEmpty)
    assert(TableIO.readCurrent(spark, dir).count() == 5)
  }

  test("vacuum: unreferenced snapshots (failed-CAS leftovers) never occupy retention slots") {
    val dir = tmpDir("vacUnref")
    TableIO.commitSnapshot(Seq((1L, "a")).toDF("id", "src"), dir, "t") // 0 full
    TableIO.commitDelta(Seq((2L, "b")).toDF("id", "src"), dir, "t")    // 1 Δ0
    // a snapshot that was claimed+written but whose repoint CAS failed:
    // on disk, never CURRENT, absent from the _roots log
    Files.createDirectory(Paths.get(dir, "snap-00002"))
    TableIO.commitDelta(Seq((3L, "c")).toDF("id", "src"), dir, "t")    // 3 Δ1
    // retention slots must be COMMITTED roots {1, 3} (chains cover 0 too),
    // not the newest ids {2, 3} — under newest-ids retention the garbage
    // snap 2 would eat root 1's slot AND survive the vacuum itself
    assert(TableIO.vacuum(dir, retainLast = 2) == Seq(2))
    assert(TableIO.listSnapshots(dir) == Seq(0, 1, 3))
    assert(TableIO.readCurrent(spark, dir).count() == 3)
    assert(TableIO.readSnapshot(spark, dir, 1).count() == 2) // window intact
  }

  test("vacuum minAgeMs grace: fresh victims are skipped, backdated ones collected") {
    val dir = tmpDir("vacGrace")
    TableIO.commitSnapshot(Seq((1L, "a")).toDF("id", "src"), dir, "t") // 0 full
    TableIO.commitSnapshot(Seq((1L, "a"), (2L, "b")).toDF("id", "src"), dir, "t") // 1
    TableIO.commitSnapshot((1L to 3L).map((_, "c")).toDF("id", "src"), dir, "t") // 2
    // victim snap 0 was written seconds ago: inside a 1h grace window a
    // (possibly cross-process) reader could still be mid-scan — skip it
    assert(TableIO.vacuum(dir, retainLast = 2, minAgeMs = 3600000L).isEmpty)
    assert(TableIO.listSnapshots(dir) == Seq(0, 1, 2))
    // backdate the victim's manifest AND dir two hours: now collectable
    val old = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 7200000L)
    Files.setLastModifiedTime(Paths.get(dir, "_manifest", "snap-00000.json"), old)
    Files.setLastModifiedTime(Paths.get(dir, "snap-00000"), old)
    assert(TableIO.vacuum(dir, retainLast = 2, minAgeMs = 3600000L) == Seq(0))
    assert(TableIO.readCurrent(spark, dir).count() == 3)
  }

  test("vacuum under a ticking enricher: 100 delta ticks, bounded snap dirs, reads stay exact") {
    val dir = tmpDir("vacSoak")
    TableIO.commitSnapshot(Seq((0L, "base")).toDF("id", "src"), dir, "t")
    var maxDirs = 0
    (1 to 100).foreach { i =>
      TableIO.commitDelta(Seq((i.toLong, s"t$i")).toDF("id", "src"), dir, "t",
        maxChain = 8)
      TableIO.vacuum(dir, retainLast = 4)
      maxDirs = math.max(maxDirs, TableIO.listSnapshots(dir).size)
      if (i % 25 == 0) assert(TableIO.readCurrent(spark, dir).count() == i + 1L)
    }
    // retained: ≤4 roots + the ≤8-long chain(s) they share (two chains at a
    // compaction boundary) — far below the 101 dirs an unvacuumed run keeps
    assert(maxDirs <= 16, s"snap dirs not bounded: $maxDirs")
    // exact content, not just counts
    assert(TableIO.readCurrent(spark, dir).select("id").as[Long]
      .collect().sorted.toSeq == (0L to 100L))
    // time travel to every retained root resolves
    TableIO.listSnapshots(dir).foreach(s =>
      TableIO.readSnapshot(spark, dir, s).count())
  }

  test("soak: 200 delta ticks across compaction boundaries — merged view equals a from-scratch fold") {
    // the real edge schema driven through the real tick path
    // (KgQueries.addEdgeDelta), several compactions at the production
    // maxChain=64; after EVERY tick the merged read must equal an
    // in-memory reference fold and chain fan-in must stay ≤ maxChain
    val dir = tmpDir("deltaSoak")
    import org.apache.spark.sql.types._
    val provType = ArrayType(StructType(Seq(
      StructField("doc_id", StringType), StructField("span_idx", IntegerType),
      StructField("media_ref", StringType))))
    val base = Seq((1L, 2L, "Relates To"), (2L, 3L, "Part Of"))
      .toDF("src_id", "dst_id", "pred")
      .withColumn("pred_norm", graft.graph.Materialize.normPred(col("pred")))
      .withColumn("strength", lit(1.0)).withColumn("n_obs", lit(1L))
      .withColumn("description", lit("extracted sentence"))
      .withColumn("provenance", array().cast(provType))
      .withColumn("created_at", graft.graph.Materialize.CreatedAt)
    TableIO.commitSnapshot(base, dir, "edges")

    // reference fold: (src,dst,pred) -> n_obs (strength/desc constant here)
    val ref = scala.collection.mutable.Map(
      (1L, 2L, "Relates To") -> 1L, (2L, 3L, "Part Of") -> 1L)
    var checks = 0
    (1 to 200).foreach { i =>
      val (src, dst, pred) = ((i % 7).toLong, (i % 5 + 10).toLong,
        if (i % 3 == 0) "Relates To" else "Links")
      graft.graph.KgQueries.addEdgeDelta(spark, dir, src, dst, pred)
      val key = (src, dst, pred)
      ref(key) = ref.getOrElse(key, 0L) + 1L
      val chainLen =
        TableIO.snapshotChain(dir, TableIO.currentSnapshotId(dir).get).length
      assert(chainLen <= 64, s"tick $i: chain fan-in $chainLen > maxChain")
      // full equality every 10 ticks AND around each compaction boundary
      // (ticks 63-66, 127-130, 191-194); count-only otherwise keeps the
      // soak under a minute
      if (i % 10 == 0 || (i + 2) % 64 <= 3) {
        val got = graft.graph.KgQueries.mergedEdges(
          TableIO.readCurrent(spark, dir))
          .select("src_id", "dst_id", "pred", "n_obs")
          .as[(Long, Long, String, Long)].collect()
          .map(t => (t._1, t._2, t._3) -> t._4).toMap
        assert(got == ref.toMap, s"tick $i: merged view diverged from fold")
        checks += 1
      }
    }
    assert(checks >= 25)
    // exactly one snapshot per tick, and the three expected compactions
    // (ticks 64/128/192 rewrote full — their chains are length 1)
    assert(TableIO.currentSnapshotId(dir).contains(200))
    Seq(64, 128, 192).foreach(s =>
      assert(TableIO.snapshotChain(dir, s) == Seq(s), s"snap $s not a full rewrite"))
    assert(TableIO.snapshotChain(dir, 200) == (192 to 200).reverse)
  }

  test("the manifest records the read schema: reads equal inference exactly, full and delta chain") {
    val c = GraphFixture.commit(spark, tmpDir("manifestSchema"))
    val dir = graft.run.Pipeline.edgesDir(c)
    def inferred(n: Int) = spark.read.parquet(
      TableIO.snapshotChain(dir, n).map(s => f"$dir/snap-$s%05d"): _*)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().toSeq.sortBy(_.toString)
    def same(n: Int): Unit = {
      val got = TableIO.readSnapshot(spark, dir, n)
      // StructType equality: names, types, nullability and metadata, nested too
      assert(got.schema == inferred(n).schema,
        s"snap $n\n  manifest: ${got.schema.treeString}\n  inferred: ${inferred(n).schema.treeString}")
      assert(rows(got) == rows(inferred(n)), s"snap $n")
    }
    val prov = TableIO.readCurrent(spark, dir).schema("provenance").dataType
    assert(prov.isInstanceOf[org.apache.spark.sql.types.ArrayType], prov)
    same(0)
    // deltas built with non-nullable columns: the schema still matches inference
    val Array(a, b) = TableIO.readCurrent(spark, dir).select("src_id", "dst_id").head()
      .toSeq.map(_.asInstanceOf[Long]).toArray
    graft.graph.KgQueries.addEdgeDelta(spark, dir, a, b, "Manually Linked")
    graft.graph.KgQueries.addEdgeDelta(spark, dir, b, a, "Manually Linked")
    assert(TableIO.snapshotChain(dir, 2) == Seq(2, 1, 0))
    Seq(1, 2).foreach(same)
    assert(jobsOf(TableIO.readSnapshot(spark, dir, 2)) == 0, "no inference job")
    assert(jobsOf(TableIO.currentSchema(dir)) == 0)
    assert(TableIO.currentSchema(dir) == inferred(2).schema)

    // a manifest written before a field existed fails every read of it,
    // naming the snapshot and the field
    val m = Paths.get(dir, "_manifest", "snap-00002.json")
    val written = Files.readString(m)
    def without(edit: com.fasterxml.jackson.databind.node.ObjectNode => Unit, field: String): Unit = {
      val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(written)
        .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      edit(node)
      Files.writeString(m, node.toString)
      Seq[() => Any](() => TableIO.readCurrent(spark, dir), () => TableIO.readSnapshot(spark, dir, 2),
        () => TableIO.currentSchema(dir)).foreach { read =>
        val e = intercept[IllegalStateException](read())
        assert(e.getMessage.contains(s"$dir/snap-00002") && e.getMessage.contains(s"'$field'"),
          e.getMessage)
      }
    }
    without(_.remove("schema"), "schema")
    without(_.remove("delta_of"), "delta_of")
    without(_.remove("chain_len"), "chain_len")
    // the part files listed by row count only, as before their byte lengths
    val part = partFiles(dir, 2).head.getFileName.toString
    without(n => n.set[com.fasterxml.jackson.databind.JsonNode]("partitions",
      n.objectNode().put(part, 1L)), s"partitions.$part.bytes")
    Files.writeString(m, written)
    same(2)
  }

  test("vacuum racing full-snapshot commits keeps every root committed since it started in the log") {
    val dir = tmpDir("vacRootsRace")
    TableIO.commitSnapshot(Seq(0).toDF("x"), dir, "t")
    val committed = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val lost = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    import scala.jdk.CollectionConverters._
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      // the grace window keeps a slower committer's in-flight snapshot out
      // of reach, and spreads the collecting passes over the commits
      val vacuumer = Future {
        while (!done.get) {
          val before = TableIO.currentSnapshotId(dir).get
          TableIO.vacuum(dir, retainLast = 3, minAgeMs = 1000)
          // every root recorded here was logged before it was recorded; one
          // newer than `before` is among the 3 newest, so it must be logged
          val recent = committed.asScala.filter(_ > before).toSet
          lost.addAll((recent -- TableIO.rootLog(dir)).asJava)
        }
      }
      val committers = (1 to 2).map { t =>
        Future((1 to 60).foreach { i =>
          TableIO.commitSnapshot(Seq(t * 100 + i).toDF("x"), dir, "t")
          committed.add(TableIO.currentSnapshotId(dir).get)
        })
      }
      try Await.result(Future.sequence(committers), 300.seconds)
      finally done.set(true)
      Await.result(vacuumer, 60.seconds)
    } finally pool.shutdown()
    assert(lost.isEmpty, s"committed roots missing from _roots: ${lost.asScala.toSeq.sorted}")
    assert(TableIO.rootLog(dir).contains(TableIO.currentSnapshotId(dir).get))
    assert(TableIO.readCurrent(spark, dir).count() == 1)
  }

  test("a 40-snapshot delta chain reads with no job") {
    // the files come from the manifests: no listing, however long the chain
    val dir = tmpDir("longChain")
    TableIO.commitSnapshot(Seq((0L, "base")).toDF("id", "src"), dir, "t")
    (1 until 40).foreach(i => TableIO.commitDelta(Seq((i.toLong, "d")).toDF("id", "src"), dir, "t"))
    assert(TableIO.snapshotChain(dir, 39).size == 40)
    assert(jobsOf(TableIO.readSnapshot(spark, dir, 39)) == 0)
    assert(TableIO.readSnapshot(spark, dir, 39).count() == 40)
  }

  test("every manifest records its chain's length; a delta commit compacts at maxChain from it") {
    val dir = tmpDir("chainLen")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def chainLen(n: Int) =
      mapper.readTree(Paths.get(dir, "_manifest", f"snap-$n%05d.json").toFile).get("chain_len").asInt
    TableIO.commitSnapshot(Seq((0L, "base")).toDF("id", "src"), dir, "t")
    // maxChain 5: deltas 1-4 chain onto 0, 5 compacts, 6-9 chain onto 5, 10
    // compacts; then a full commit and deltas onto it
    val ids = (1 to 10).map(i => TableIO.commitDelta(Seq((i.toLong, "d")).toDF("id", "src"), dir, "t",
      maxChain = 5))
    assert(ids == (1 to 10))
    TableIO.commitSnapshot(TableIO.readCurrent(spark, dir), dir, "t")
    (12 to 13).foreach(i => TableIO.commitDelta(Seq((i.toLong, "d")).toDF("id", "src"), dir, "t"))
    val lens = (0 to 13).map(n => n -> TableIO.snapshotChain(dir, n).size)
    lens.foreach { case (n, len) => assert(chainLen(n) == len, s"snap $n") }
    assert(lens.map(_._2) == Seq(1, 2, 3, 4, 5, 1, 2, 3, 4, 5, 1, 1, 2, 3))
    assert(TableIO.readCurrent(spark, dir).count() == 13)
  }

  test("a part file gone from a committed snapshot fails every read and the compaction") {
    val c = GraphFixture.commit(spark, tmpDir("goneFile"))
    val dir = Pipeline.edgesDir(c)
    val folding = KgSession.open(spark, c.workDir)
    folding.edges // pinned at the base, so the next read folds the deltas in
    val Seq(a, b) = Seq("Deep Learning", "Gradient Descent").map(n => folding.idOf(n).get)
    KgQueries.addEdgeDelta(spark, dir, a, b, "Manually Linked")
    KgQueries.addEdgeDelta(spark, dir, b, a, "Manually Linked")
    val head = TableIO.requireCurrentId(dir)
    val chain = TableIO.snapshotChain(dir, head)
    val roots = TableIO.rootLog(dir)
    assert(chain == Seq(2, 1, 0))
    val gone = partFiles(dir, 1).head
    Files.delete(gone)
    def fails(what: String)(read: => Any): Unit = {
      val r = Await.result(Future(scala.util.Try(read))(ExecutionContext.global), Duration(60, "s"))
      assert(r.isFailure, s"$what read a snapshot with a part file gone")
      assert(names(r.failed.get, gone.getFileName.toString), s"$what: ${messages(r.failed.get)}")
    }
    fails("readCurrent")(TableIO.readCurrent(spark, dir).collect())
    fails("readSnapshot(1)")(TableIO.readSnapshot(spark, dir, 1).collect())
    fails("edgesAt(1)")(KgSession.open(spark, c.workDir).edgesAt(1).collect())
    fails("a fresh pin")(KgSession.open(spark, c.workDir).edges)
    fails("a pin fold")(folding.edges)
    fails("a compacting commitDelta")(TableIO.commitDelta(TableIO.readSnapshot(spark, dir, 0)
      .limit(1).withColumn("pred", lit("Compacted")), dir, "edges", maxChain = 3))
    assert(TableIO.requireCurrentId(dir) == head)
    assert(TableIO.snapshotChain(dir, head) == chain)
    assert(TableIO.rootLog(dir) == roots)
  }

  test("parquetFileRows closes the directory it lists") {
    val dir = tmpDir("fds")
    TableIO.commitSnapshot(Seq(1, 2, 3).toDF("x"), dir, "t")
    def openFds: Long = {
      val st = Files.list(Paths.get("/proc/self/fd"))
      try st.count() finally st.close()
    }
    val before = openFds
    (1 to 1000).foreach(_ => TableIO.parquetFileRows(Paths.get(dir, "snap-00000")))
    val grown = openFds - before
    assert(grown < 50, s"1,000 calls left $grown more open file descriptors")
  }

  /** Snapshot `n`'s parquet part files. */
  private def partFiles(dir: String, n: Int): Seq[java.nio.file.Path] = {
    val st = Files.list(Paths.get(dir, f"snap-$n%05d"))
    try st.iterator().asScala.filter(_.toString.endsWith(".parquet")).toSeq
    finally st.close()
  }

  private def causes(e: Throwable): Seq[Throwable] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq

  private def messages(e: Throwable): String =
    causes(e).map(c => s"${c.getClass.getName}: ${c.getMessage}").mkString("\n")

  /** Whether `e` or one of its causes names `file`. */
  private def names(e: Throwable, file: String): Boolean =
    causes(e).exists(c => Option(c.getMessage).exists(_.contains(file)))
}
