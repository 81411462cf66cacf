package graft

import graft.SpokeHarness.Steps
import graft.streaming._
import org.scalatest.funsuite.AnyFunSuite

/** Spoke state-machine semantics, driven through [[SpokeCore.step]] (the
  * function [[TwsSpoke]] runs per key and trigger), and the keyed-state
  * operators end to end on RocksDB.
  */
class StreamingSuite extends AnyFunSuite {

  private def data(seq: Long, id: Long, y: Option[Double], op: String = "training") =
    Envelope(seq, 1, "data", "", "", -1L, id, Seq(1.0, 2.0, 3.0), y, op)
  private def ctl(seq: Long, req: String, learner: String = "", reqId: Long = 1L) =
    Envelope(seq, 1, "control", req, learner, reqId, -1, Nil, None, "")

  test("cleanScratch deletes a scratch dir with its contents, and only " +
    "dirs scratchDir created") {
    import java.nio.file.{Files, Paths}
    val dir = Streaming.scratchDir("graft_cleanup_test_")
    Files.createDirectories(Paths.get(dir, "a", "b"))
    Files.writeString(Paths.get(dir, "a", "b", "part.txt"), "x")
    val other = Files.createTempDirectory("graft_not_scratch_")
    try {
      Streaming.cleanScratch(Seq(dir, other.toString))
      assert(!Files.exists(Paths.get(dir)), s"$dir survived")
      assert(Files.isDirectory(other), "a dir scratchDir did not create was deleted")
    } finally Files.deleteIfExists(other)
  }

  test("stagedDir builds once per (key, sfDir) under the scratch base, " +
    "and a different sfDir gets a fresh dir") {
    import java.nio.file.{Files, Paths}
    val key = s"memo_test_${System.nanoTime()}"
    var builds = 0
    def staged(sfDir: String): String = Streaming.stagedDir(key, sfDir) { dir =>
      builds += 1
      Files.writeString(Paths.get(dir, "part"), sfDir)
    }
    val a = staged("/fixture/a")
    assert(staged("/fixture/a") == a && builds == 1,
      "build re-ran for the same (key, sfDir)")
    val probe = Streaming.scratchDir("graft_memo_probe_")
    assert(Paths.get(a).getParent == Paths.get(probe).getParent,
      s"$a is not under the scratch base")
    val b = staged("/fixture/b")
    assert(b != a && builds == 2,
      "a different sfDir was served another fixture's artifact")
    assert(Files.readString(Paths.get(b, "part")) == "/fixture/b")
    // the artifacts are scratch dirs: the exit hook's cleanScratch owns them
    Streaming.cleanScratch(Seq(a, b, probe))
    assert(!Files.exists(Paths.get(a)) && !Files.exists(Paths.get(b)))
  }

  test("stager: file k is trigger k, and a part staged later is the next " +
    "drain's next trigger") {
    val spark = TestSession.spark
    import spark.implicits._
    val dir = Streaming.scratchDir("graft_stager_")
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Seq[Int])]()
    val sink = Streaming.Sink.Writes(Streaming.output("graft_stager_out_")) { (b, w) =>
      seen.add((w.id, b.as[Int].collect().toSeq.sorted))
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("value",
        org.apache.spark.sql.types.IntegerType)))
    def part(k: Int) = (0 until 5).map(i => k * 10 + i)
    Streaming.stage(spark, dir, (0 until 3).map(k => part(k).toDS()): _*)
    Streaming.drain(spark, dir, schema, sink)(identity)
    Streaming.stage(spark, dir, part(3).toDS())
    Streaming.drain(spark, dir, schema, sink)(identity)
    assert(seen.toArray.toSeq == (0 until 4).map(k => (k.toLong, part(k))))
  }

  test("drain: a failing sink is rethrown, its query stopped and the " +
    "shuffle width restored") {
    val spark = TestSession.spark
    import spark.implicits._
    val dir = Streaming.scratchDir("graft_drainfail_")
    Streaming.stage(spark, dir, Seq(1).toDS(), Seq(2).toDS(), Seq(3).toDS())
    val prior = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "7")
    try {
      val e = intercept[Exception] {
        Streaming.drain(spark, dir, Seq(1).toDF().schema,
          Streaming.Sink.Batches { (_, id) =>
            if (id == 1) throw new IllegalStateException("sink failed on batch 1")
          })(identity)
      }
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(_.getMessage == "sink failed on batch 1"), e.toString)
      assert(spark.streams.active.isEmpty)
      assert(spark.conf.get("spark.sql.shuffle.partitions") == "7")
    } finally spark.conf.set("spark.sql.shuffle.partitions", prior)
  }

  test("drain replay: a re-executed batch rewrites its own output once, " +
    "and its earlier-batches read excludes its first write") {
    val spark = TestSession.spark
    import spark.implicits._
    val dir = Streaming.scratchDir("graft_replay_")
    val out = Streaming.output("graft_replay_out_")
    val schema = Seq(1).toDF().schema
    def part(k: Int) = (0 until 5).map(i => k * 10 + i)
    val earlier = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Seq[Int])]()
    def run(): Unit = Streaming.drain(spark, dir, schema, Streaming.Sink.Writes(out) { (b, w) =>
      earlier.add((w.id, out.read(spark, "rows", below = w.id, schema = schema)
        .as[Int].collect().toSeq.sorted))
      w.write("rows", b)
    })(identity)
    Streaming.stage(spark, dir, (0 until 3).map(k => part(k).toDS()): _*)
    run()
    assert(graft.operators.StreamOps.dropLastCommit(out) == 2L)
    run()
    assert(out.read(spark, "rows").as[Int].collect().toSeq.sorted ==
      (0 until 3).flatMap(part), "a replayed batch's rows are not held once")
    assert(earlier.toArray.toSeq == Seq((0L, Nil), (1L, part(0)),
      (2L, part(0) ++ part(1)), (2L, part(0) ++ part(1))), earlier.toString)
    assert(out.read(spark, "rows", below = 2L, latest = true).as[Int].collect()
      .toSeq.sorted == part(1))
    assert(out.read(spark, "none", schema = schema).count() == 0L)
  }

  test("Q1 replays a crashed last batch exactly once: predictions, " +
    "responses and logs equal the per-key SpokeCore.step replay") {
    val spark = TestSession.spark
    import spark.implicits._
    def inst(id: Int, op: String) =
      s"""{"id": $id, "operation": "$op", "numericalFeatures": [${id % 7}.0, 1.5], """ +
        (if (op == "training") s""""target": ${id % 10}.0}""" else "\"target\": null}")
    def req(pid: Int, r: String, reqId: Long, learner: String = "") =
      s"""{"id": $pid, "request": "$r", "requestId": $reqId""" +
        (if (learner.isEmpty) "}" else s""", "learner": {"name": "$learner"}}""")
    val files = Seq(
      (0 until 10).map(inst(_, "training")),
      Seq(req(1, "Create", 1L, "PA"), req(2, "Create", 1L, "RegressorPA")) ++
        (10 until 40).map(inst(_, "training")),
      (40 until 45).map(inst(_, "forecasting")) ++
        Seq(req(1, "Query", 9L), req(2, "Query", 9L), req(1, "Delete", 10L)))
    val wireDir = Streaming.scratchDir("graft_q1replay_")
    Streaming.stage(spark, wireDir, files.map(_.toDF("value")): _*)
    val out = Streaming.output("graft_q1replay_out_")
    graft.operators.JobTopology.runJob(spark, wireDir, out)
    assert(graft.operators.StreamOps.dropLastCommit(out) == 2L)
    graft.operators.JobTopology.runJob(spark, wireDir, out)
    val want = SpokeHarness.replay(files.map(f =>
      graft.operators.JobTopology.route(f.toDF("value")).collect().toSeq))
    def got(name: String) = out.read(spark, name).as[SpokeEvent].collect().toSeq
    for ((name, kind) <- Seq("predictions" -> "prediction",
        "responses" -> "response", "logs" -> "log")) {
      val w = want.filter(_.kind == kind)
      assert(w.nonEmpty, s"the fixture emits no $name")
      assert(SpokeHarness.diff(got(name), w) == "", name)
    }
  }

  /** The thread name of every `jdk.ProcessStart` event while `body` runs,
    * recorded in-process by JFR. */
  private def processStarts(body: => Unit): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try body finally rec.stop()
    val f = java.nio.file.Paths.get(Streaming.scratchDir("graft_jfr_"), "starts.jfr")
    try rec.dump(f) finally rec.close()
    jdk.jfr.consumer.RecordingFile.readAllEvents(f).asScala.toSeq
      .map(e => Option(e.getThread).map(_.getJavaName).getOrElse(""))
  }

  test("no process starts on the stream execution thread or the state " +
    "store's checksum threads: a staged drain and a TwsSpoke drain") {
    val spark = TestSession.spark
    import spark.implicits._
    val schema = Seq(1).toDF().schema
    def drainThree(): Unit = {
      // a fresh session: no earlier test's drain has set its conf
      val s = spark.newSession()
      val dir = Streaming.scratchDir("graft_nofork_")
      Streaming.stage(s, dir, (0 until 3).map(k => Seq(k, k + 1).toDS()): _*)
      Streaming.drain(s, dir, schema, Streaming.Sink.Batches((b, _) => b.count()))(identity)
    }
    val spoke = SpokeHarness.stage(spark, lifecycleFiles.take(3))
    // one-time start-ups (Hadoop's Shell class init forks `setsid`) land on
    // whichever thread gets there first: pay them off the record
    drainThree()
    SpokeHarness.runTws(spark, spoke)
    val threads = processStarts {
      drainThree()
      SpokeHarness.runTws(spark, spoke)
      // the recording sees a start on this thread
      new ProcessBuilder("true").start().waitFor()
    }
    assert(threads.contains(Thread.currentThread().getName), threads.toString)
    val onQuery = threads.filter(t => t.startsWith("stream execution thread") ||
      t.startsWith("ChecksumCheckpointFileManager-Thread"))
    assert(onQuery.isEmpty, s"${onQuery.size} process starts: ${onQuery.distinct}")
  }

  /** Write `text` to `p` through `fm`'s atomic stream. */
  private def writeAtomic(fm: org.apache.spark.sql.execution.streaming.checkpointing
      .CheckpointFileManager, p: org.apache.hadoop.fs.Path, text: String,
      overwrite: Boolean): Unit = {
    val o = fm.createAtomic(p, overwrite)
    o.write(text.getBytes("UTF-8"))
    o.close()
  }

  private def readAll(fm: org.apache.spark.sql.execution.streaming.checkpointing
      .CheckpointFileManager, p: org.apache.hadoop.fs.Path): String = {
    val in = fm.open(p)
    try new String(in.readAllBytes(), "UTF-8") finally in.close()
  }

  test("checkpoint manager: a non-overwriting rename onto a file throws and " +
    "leaves it, cancel leaves no temp file, and a non-file root gets " +
    "Spark's default manager") {
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager}
    import java.nio.file.{Files, Paths}
    // the Hadoop conf Spark hands its managers, from a session that has it
    val session = TestSession.spark.newSession()
    LocalCheckpointFileManager.install(session)
    val conf = session.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.newHadoopConf()
    val dir = Streaming.scratchDir("graft_ckptfm_")
    val fm = CheckpointFileManager.create(new Path(dir), conf)
    assert(fm.asInstanceOf[LocalCheckpointFileManager].underlying
      .isInstanceOf[LocalCheckpointFileManager.Nio])
    def entries() = Files.list(Paths.get(dir)).toArray.map(_.toString).sorted.toSeq
    val a = new Path(s"$dir/log/0")
    writeAtomic(fm, a, "first", overwrite = false)
    intercept[org.apache.hadoop.fs.FileAlreadyExistsException](
      writeAtomic(fm, a, "second", overwrite = false))
    assert(readAll(fm, a) == "first")
    assert(Files.list(Paths.get(s"$dir/log")).toArray.map(_.toString).toSeq ==
      Seq(s"$dir/log/0"), "a failed rename left its temp file")
    writeAtomic(fm, a, "third", overwrite = true)
    assert(readAll(fm, a) == "third")
    val before = entries()
    val o = fm.createAtomic(new Path(s"$dir/cancelled"), false)
    o.write(1)
    o.cancel()
    assert(entries() == before)
    // a non-file root: the manager Spark would pick without the conf
    conf.set("fs.AbstractFileSystem.graftremote.impl", classOf[RemoteTestFs].getName)
    val remote = new Path("graftremote:/ckpt")
    val picked = new LocalCheckpointFileManager(remote, conf).underlying
    assert(picked.getClass == classOf[FileContextBasedCheckpointFileManager])
    conf.unset("spark.sql.streaming.checkpointFileManagerClass")
    assert(picked.getClass == CheckpointFileManager.create(remote, conf).getClass)
  }

  test("checkpoint manager: overwriting a file Spark's default manager wrote " +
    "drops its stale .crc") {
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager
    val conf = new org.apache.hadoop.conf.Configuration()
    val dir = Streaming.scratchDir("graft_ckptcrc_")
    val a = new Path(s"$dir/1.zip")
    writeAtomic(new FileContextBasedCheckpointFileManager(new Path(dir), conf), a,
      "default manager", overwrite = true)
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(dir, ".1.zip.crc")),
      "Spark's default manager wrote no .crc")
    val fm = new LocalCheckpointFileManager(new Path(dir), conf)
    writeAtomic(fm, a, "engine", overwrite = true)
    assert(readAll(fm, a) == "engine")
  }

  test("a spoke checkpoint begun under Spark's default manager resumes " +
    "under the engine's, replaying its crashed last batch, and equals the " +
    "per-key replay") {
    import scala.jdk.CollectionConverters._
    val files = lifecycleFiles
    val spark = TestSession.spark
    val dir = SpokeHarness.stage(spark, files.take(3))
    val data = s"$dir/data"
    val schema = org.apache.spark.sql.Encoders.product[Envelope].schema
    val out = Streaming.output("graft_mixed_")
    def spoke(src: org.apache.spark.sql.DataFrame) =
      TwsSpoke.run(src.as[Envelope](org.apache.spark.sql.Encoders.product[Envelope])).toDF()
    def write(b: org.apache.spark.sql.DataFrame, w: Streaming.Writer): Unit =
      w.write("events", b)
    def ckptFiles(suffix: String): Int = {
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(out.checkpoint))
      try walk.iterator().asScala.count(_.getFileName.toString.endsWith(suffix))
      finally walk.close()
    }
    // Spark's default manager and RocksDB snapshot commits: a state session
    // with both of the engine's checkpoint confs unset
    val s1 = Streaming.stateSession(spark)
    s1.conf.unset("spark.sql.streaming.checkpointFileManagerClass")
    s1.conf.unset("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled")
    s1.conf.set("spark.sql.shuffle.partitions", Streaming.StreamShufflePartitions.toString)
    val q = spoke(Streaming.source(s1, data, schema)).writeStream
      .option("checkpointLocation", out.checkpoint)
      .foreachBatch((b: org.apache.spark.sql.DataFrame, id: Long) =>
        write(b, new Streaming.Writer(out, id)))
      .start()
    try q.processAllAvailable() finally q.stop()
    assert(ckptFiles(".crc") > 0, "Spark's default manager wrote no .crc")
    // RocksDB committed every state version as a snapshot .zip
    assert(ckptFiles(".zip") > 0 && ckptFiles(".changelog") == 0,
      "the first incarnation's state is not snapshot-only")
    // batch 2 re-executes under the engine's manager, over its .crc'd files
    assert(graft.operators.StreamOps.dropLastCommit(out) == 2L)
    def resume(): Unit = Streaming.drain(Streaming.stateSession(spark), data, schema,
      Streaming.Sink.Writes(out)(write))(spoke)
    resume()
    // a later incarnation reloads the state the replay wrote
    Streaming.stage(spark, data, files.drop(3).map(f =>
      spark.createDataset(f)(org.apache.spark.sql.Encoders.product[Envelope])): _*)
    resume()
    val got = out.read(spark, "events").as[SpokeEvent](
      org.apache.spark.sql.Encoders.product[SpokeEvent]).collect().toSeq
    assert(SpokeHarness.diff(got, SpokeHarness.replay(files)) == "")
    // the resumed incarnations committed their state as changelogs
    assert(ckptFiles(".changelog") > 0, "no state changelog written on resume")
    // the log entries the resumed incarnations wrote have no .crc: the
    // engine's manager wrote them
    for (entry <- Seq("commits/2", "offsets/3", "commits/3", "offsets/4", "commits/4")) {
      val f = java.nio.file.Paths.get(out.checkpoint, entry)
      assert(java.nio.file.Files.exists(f), s"no $entry")
      assert(!java.nio.file.Files.exists(f.resolveSibling(s".${f.getFileName}.crc")),
        s"$entry has a .crc")
    }
  }

  test("pre-Create data buffers, Create drains it into training") {
    val st = new Steps()
    val out = st(data(0, 10, Some(1.0)), data(1, 11, Some(-1.0)),
      ctl(2, "Create", "PA"))
    val log = out.find(_.kind == "log").get
    assert(log.info == "created:drained" && log.value == 2.0)
    assert(st.state.exists(_.created))
    // next trigger: more training + query reflects all 3 fits
    val out2 = st(data(10, 12, Some(1.0)), ctl(11, "Query", reqId = 9L))
    val resp = out2.find(_.kind == "response").get
    assert(resp.info.startsWith("fitted=3,"), resp.info)
    assert(resp.requestId == 9L)
  }

  test("forecasting points yield predictions; Delete clears state") {
    val st = new Steps()
    st(ctl(0, "Create", "PA"), data(1, 20, Some(1.0)), data(2, 21, Some(1.0)))
    val out = st(data(10, 30, None, "forecasting"), ctl(11, "Delete"))
    assert(out.count(_.kind == "prediction") == 1)
    assert(out.exists(e => e.kind == "log" && e.info == "deleted"))
    // post-Delete Query: the catalog's "rejected: missing" outcome
    // (PipelineMap.scala:42-44) — the spoke no longer hosts the pipeline
    val out2 = st(ctl(20, "Query", reqId = 2L))
    assert(out2.map(e => (e.kind, e.info)) ==
      Seq(("log", "query_rejected:missing")))
  }

  /** One [[TwsStatsOperator]] run on RocksDB over five staged stats files,
    * one query restart per file; the sink's contents after each drain.
    * Pipeline 1's stats end at ts 6000 (timer due at 36000); pipeline 2's
    * arrive out of order; pipeline 99's records only push the watermark
    * (delay 0: the watermark is the largest event time seen).
    */
  private lazy val statsDrains: IndexedSeq[Seq[SpokeEvent]] = {
    val spark = Streaming.stateSession(TestSession.spark)
    import spark.implicits._
    val dir = Streaming.scratchDir("graft_stats_")
    val sink = new java.util.concurrent.ConcurrentLinkedQueue[SpokeEvent]()
    def drain(): Seq[SpokeEvent] = {
      val src = Streaming.source(spark, s"$dir/data",
        implicitly[org.apache.spark.sql.Encoder[StatEvent]].schema).as[StatEvent]
      val q = TwsStatsOperator.run(src).writeStream
        .outputMode("append")
        .option("checkpointLocation", s"$dir/_ckpt")
        .foreachBatch((df: org.apache.spark.sql.Dataset[SpokeEvent], _: Long) =>
          df.collect().foreach(sink.add))
        .start()
      q.processAllAvailable()
      q.stop()
      sink.toArray(Array.empty[SpokeEvent]).toSeq
    }
    val files = IndexedSeq(
      Seq(StatEvent(1, 4, 2048, 1, 100, 0.8, 1000L),
        StatEvent(1, 4, 2048, 1, 120, 0.9, 6000L)),
      // out of order: the newest point (ts 35999, score 0.9) comes first,
      // and the watermark stops 1 ms short of pipeline 1's timer
      Seq(StatEvent(2, 1, 100, 1, 10, 0.9, 35999L),
        StatEvent(2, 1, 100, 1, 10, 0.5, 29999L),
        StatEvent(2, 1, 100, 1, 10, 0.2, 32999L)),
      Seq(StatEvent(99, 1, 64, 1, 5, 0.5, 36001L)),
      // late: far below the watermark
      Seq(StatEvent(1, 9, 99, 1, 9, 0.9, 2000L)),
      Seq(StatEvent(99, 1, 64, 1, 5, 0.5, 1000000L)))
    files.map { f =>
      Streaming.stage(spark, s"$dir/data", f.toDS())
      drain()
    }
  }

  test("statistics operator merges per-pipeline stats and emits on quiescence timeout") {
    // summed models/bytes/blocks/fitted, makespan = 6000 - 1000, and the
    // newest point's score
    assert(statsDrains(2).filter(_.pipelineId == 1) ==
      Seq(SpokeEvent(1, "job_statistics", -1, -1, 0.9,
        "makespan=5000,models=8,bytes=4096,blocks=2,fitted=220")),
      statsDrains(2).toString)
  }

  test("stats quiescence is driven by the watermark end-to-end, not wall clock") {
    // no report while the watermark (35999 after file 2) is short of
    // lastTs + timeout = 36000
    assert(statsDrains(0).isEmpty && statsDrains(1).isEmpty,
      "emitted before the watermark reached the timer")
    // 1 ms past it, pipeline 1's timer fires on data time alone (no 30 s
    // wall-clock wait happened); pipeline 2's is not due until 65999
    assert(statsDrains(2).map(_.pipelineId) == Seq(1), statsDrains(2).toString)
    // the late pipeline-1 record cannot resurrect the cleared state:
    // advancing the watermark again emits nothing new for pipeline 1
    assert(statsDrains(4).count(_.pipelineId == 1) == 1,
      s"late record resurrected pipeline-1 state: ${statsDrains(4)}")
  }

  test("stats operator: out-of-order batch keeps the max-event-time score, not the last") {
    // "last write wins" would report 0.2
    assert(statsDrains(4).filter(_.pipelineId == 2) ==
      Seq(SpokeEvent(2, "job_statistics", -1, -1, 0.9,
        "makespan=6000,models=3,bytes=300,blocks=3,fitted=30")),
      statsDrains(4).toString)
  }

  test("spoke state survives a streaming-query restart from checkpoint") {
    val spark = Streaming.stateSession(TestSession.spark)
    import spark.implicits._
    val dir = Streaming.scratchDir("graft_ckpt_")
    val ck = s"$dir/_ckpt"
    val sink = new java.util.concurrent.ConcurrentLinkedQueue[SpokeEvent]()
    def start() = {
      val src = Streaming.source(spark, s"$dir/data",
        implicitly[org.apache.spark.sql.Encoder[Envelope]].schema).as[Envelope]
      TwsSpoke.run(src).writeStream
        .outputMode("append")
        .option("checkpointLocation", ck)
        .foreachBatch((df: org.apache.spark.sql.Dataset[SpokeEvent], _: Long) =>
          df.collect().foreach(sink.add))
        .start()
    }
    val batch1: Seq[Envelope] = Seq(ctl(0, "Create", "PA"),
      data(1, 1, Some(1.0)), data(2, 2, Some(-1.0)), data(3, 3, Some(1.0)))
    Streaming.stage(spark, s"$dir/data", batch1.toDS())
    val q1 = start(); q1.processAllAvailable(); q1.stop()
    // second incarnation: only a Query arrives; fitted=3 proves the model
    // state was recovered from the checkpointed state store
    Streaming.stage(spark, s"$dir/data", Seq(ctl(10, "Query", reqId = 77L)).toDS())
    val q2 = start(); q2.processAllAvailable(); q2.stop()
    val resp = sink.toArray(Array.empty[SpokeEvent]).find(_.kind == "response")
    assert(resp.isDefined, s"no response in ${sink.size} events")
    assert(resp.get.info.startsWith("fitted=3,"), resp.get.info)
    assert(resp.get.requestId == 77L)
  }

  /** Five trigger files over three pipelines covering the spoke's whole
    * lifecycle: a pre-Create buffer over two files that crosses the
    * [[TwsSpoke.ChunkSize]] seam, Create with an invalid learner, a
    * duplicate Create, Update (valid and invalid), Delete, Query on a
    * deleted pipeline, re-Create, forecasting and Query.
    */
  private def lifecycleFiles: Seq[Seq[Envelope]] = {
    def pt(p: Int, seq: Long, op: String) =
      Envelope(seq, p, "data", "", "", -1L, seq,
        Seq(math.sin(seq.toDouble), math.cos(0.7 * seq), (seq % 7) / 7.0),
        if (op == "training") Some(if (math.sin(1.3 * seq) >= 0) 1.0 else -1.0)
        else None, op)
    def pts(p: Int, from: Long, n: Int, op: String = "training") =
      (from until from + n).map(pt(p, _, op))
    def c(p: Int, seq: Long, req: String, learner: String, reqId: Long) =
      Envelope(seq, p, "control", req, learner, reqId, -1, Nil, None, "")
    Seq(
      // pipeline 1 buffers; 2's Create names an unknown learner, so it
      // buffers too; 3 is created and trains
      pts(1, 0, 300) ++ Seq(c(2, 0, "Create", "DeepForest", 20)) ++
        pts(2, 1, 50) ++ Seq(c(3, 0, "Create", "PA", 30)) ++ pts(3, 1, 40),
      // 1's buffer passes 512 rows; 2 is created and rejects a duplicate
      // Create; 3 switches learner
      pts(1, 300, 300) ++
        Seq(c(2, 100, "Create", "PA", 21), c(2, 101, "Create", "SVM", 22)) ++
        pts(2, 102, 30) ++ pts(2, 140, 10, "forecasting") ++
        Seq(c(2, 150, "Query", "", 23), c(3, 100, "Update", "SVM", 31)) ++
        pts(3, 101, 40) ++ pts(3, 150, 5, "forecasting"),
      // 1 is created; 3 answers, is deleted, rejects a Query, buffers again
      Seq(c(1, 1000, "Create", "PA", 10)) ++ pts(1, 1001, 100) ++
        pts(1, 1200, 20, "forecasting") ++ Seq(c(1, 1300, "Query", "", 11),
          c(3, 200, "Query", "", 32), c(3, 201, "Delete", "", 33),
          c(3, 202, "Query", "", 34)) ++ pts(3, 203, 20),
      // 3 is re-created; 1 rejects an invalid Update and keeps training
      Seq(c(3, 300, "Create", "PA", 35)) ++ pts(3, 301, 30) ++
        pts(3, 340, 10, "forecasting") ++
        Seq(c(1, 2000, "Update", "NotALearner", 12)) ++ pts(1, 2001, 50),
      Seq(c(1, 3000, "Query", "", 13), c(2, 3000, "Query", "", 24),
        c(3, 3000, "Query", "", 36)))
  }

  test("TwsSpoke on RocksDB equals a per-key SpokeCore.step replay over a " +
    "staged lifecycle stream, testMode off and on") {
    val files = lifecycleFiles
    val dir = SpokeHarness.stage(TestSession.spark, files)
    for (testMode <- Seq(false, true)) {
      val d = SpokeHarness.diff(SpokeHarness.runTws(TestSession.spark, dir, testMode),
        SpokeHarness.replay(files, testMode))
      assert(d.isEmpty, s"testMode=$testMode: $d")
    }
    // the stream reaches every lifecycle step
    val out = SpokeHarness.replay(files, testMode = true)
    val logs = out.filter(_.kind == "log").map(e => (e.pipelineId, e.info, e.value)).toSet
    Seq((1, "created:drained", 600.0),
      (2, "create_rejected:invalid learner: DeepForest", 0.0),
      (2, "created:drained", 50.0), (2, "create_rejected:exists", 0.0),
      (3, "updated", 0.0), (3, "deleted", 0.0), (3, "query_rejected:missing", 0.0),
      (3, "created:drained", 20.0),
      (1, "update_rejected:invalid learner: NotALearner", 0.0))
      .foreach(l => assert(logs.contains(l), s"$l not in $logs"))
    assert(out.filter(_.kind == "response").map(_.requestId).toSet ==
      Set(11L, 13L, 23L, 24L, 32L, 36L))
    assert(out.filter(_.kind == "prediction").map(_.pipelineId).toSet == Set(1, 2, 3))
    assert(out.exists(_.kind == "curve"))
  }

  test("held-out ring: 2-of-10 split, Query scored against ring, deterministic replay") {
    // 30 training points after Create: cycle positions 8,9 of every 10 go to
    // the ring (FlinkSpoke.scala:92-107) -> ring 6, trained 24
    def run(): (SpokeEvent, SpokeEvent) = {
      val st = new Steps()
      st(ctl(0, "Create", "PA"))
      st((0 until 30).map(i =>
        data(10 + i, i, Some(if (i % 3 == 0) 1.0 else -1.0))): _*)
      val r1 = st(ctl(100, "Query", reqId = 5L)).head
      val r2 = st(ctl(101, "Query", reqId = 6L)).head
      (r1, r2)
    }
    val (r1, r2) = run()
    assert(r1.info.startsWith("fitted=24,testn=6,"), r1.info)
    // Query is read-only: repeating it returns the identical snapshot
    assert(r1.info == r2.info && r1.value == r2.value)
    // deterministic replay: a fresh identical run reproduces loss and score
    val (r1b, _) = run()
    assert(r1b.info == r1.info && r1b.value == r1.value)
    // score is the ring accuracy for a classifier: within [0,1]
    val score = r1.info.split(",").find(_.startsWith("score=")).get
      .stripPrefix("score=").toDouble
    assert(score >= 0.0 && score <= 1.0, score)
  }

  test("full ring evicts oldest point back into training (FIFO)") {
    val st = new Steps(testCap = 2)
    def step(evts: Seq[Envelope]) = st(evts: _*)
    step(Seq(ctl(0, "Create", "PA")))
    // 30 points, ring candidates at positions 8,9,18,19,28,29; cap 2 =>
    // 4 evictions feed back to training: fitted = 24 + 4 = 28, testn = 2
    step((0 until 30).map(i => data(10 + i, i, Some(1.0))))
    val r = step(Seq(ctl(100, "Query", reqId = 5L))).head
    assert(r.info.startsWith("fitted=28,testn=2,"), r.info)
  }

  test("drained pre-Create buffer goes through the 2-of-10 split too") {
    val st = new Steps()
    // 20 points buffered BEFORE Create; the drain routes them through
    // handleData, so 4 land in the ring (positions 8,9,18,19)
    st((0 until 20).map(i => data(i, i, Some(1.0))): _*)
    val out = st(ctl(100, "Create", "PA"))
    assert(out.find(_.kind == "log").get.value == 20.0)
    val r = st(ctl(101, "Query", reqId = 5L)).head
    assert(r.info.startsWith("fitted=16,testn=4,"), r.info)
  }

  test("held-out ring survives a streaming-query restart from checkpoint") {
    val spark = Streaming.stateSession(TestSession.spark)
    import spark.implicits._
    val dir = Streaming.scratchDir("graft_ringck_")
    val ck = s"$dir/_ckpt"
    val sink = new java.util.concurrent.ConcurrentLinkedQueue[SpokeEvent]()
    def start() = {
      val src = Streaming.source(spark, s"$dir/data",
        implicitly[org.apache.spark.sql.Encoder[Envelope]].schema).as[Envelope]
      TwsSpoke.run(src).writeStream
        .outputMode("append")
        .option("checkpointLocation", ck)
        .foreachBatch((df: org.apache.spark.sql.Dataset[SpokeEvent], _: Long) =>
          df.collect().foreach(sink.add))
        .start()
    }
    val batch1 = ctl(0, "Create", "PA") +:
      (0 until 30).map(i => data(10 + i, i, Some(if (i % 3 == 0) 1.0 else -1.0)))
    Streaming.stage(spark, s"$dir/data", batch1.toDS())
    val q1 = start(); q1.processAllAvailable(); q1.stop()
    // the same events stepped directly give the expected snapshot
    val stDirect = new Steps()
    stDirect(batch1: _*)
    val expected = stDirect(ctl(100, "Query", reqId = 77L)).head
    // second incarnation: only a Query arrives; ring contents and model must
    // both come back from the checkpointed state store
    Streaming.stage(spark, s"$dir/data", Seq(ctl(100, "Query", reqId = 77L)).toDS())
    val q2 = start(); q2.processAllAvailable(); q2.stop()
    val resp = sink.toArray(Array.empty[SpokeEvent]).find(_.kind == "response")
    assert(resp.isDefined, s"no response in ${sink.size} events")
    assert(resp.get.info == expected.info, s"${resp.get.info} != ${expected.info}")
    assert(resp.get.value == expected.value)
    assert(resp.get.info.startsWith("fitted=24,testn=6,"), resp.get.info)
  }

  test("test-mode polling emits one curve point per 100 records, across triggers") {
    val st = new Steps(testMode = true)
    def step(evts: Seq[Envelope]) = st(evts: _*)
    step(Seq(ctl(0, "Create", "PA")))
    // 250 records split over two triggers (130 + 120): pollCount persists in
    // state, so polls fire at records 100 and 200 -> 2 curve points
    val curve1 = step((0 until 130).map(i => data(10 + i, i, Some(1.0))))
      .filter(_.kind == "curve")
    val curve2 = step((0 until 120).map(i => data(200 + i, 130 + i, Some(1.0))))
      .filter(_.kind == "curve")
    assert(curve1.length == 1 && curve2.length == 1, s"$curve1 / $curve2")
    // curve points are scored against the ring: id carries the fitted count
    assert(curve1.head.id == 80L, curve1.head.toString) // 100 records, 20 in ring
    assert(curve2.head.id == 160L, curve2.head.toString)
    assert(curve1.head.info.contains("testn=20"), curve1.head.info)
  }

  test("transformWithState buffers 10k pre-Create rows across triggers via ListState") {
    val n = 10000
    val rows = (0 until n).map(i => data(i, i, Some(if (i % 2 == 0) 1.0 else -1.0)))
    // triggers 1+2: 10k pre-Create rows split across two files (appends go
    // to chunked MapState, never a whole-buffer rewrite); trigger 3:
    // Create + Query
    val files = Seq(rows.take(n / 2), rows.drop(n / 2),
      Seq(ctl(n + 1, "Create", "PA"), ctl(n + 2, "Query", reqId = 5L)))
    val got = SpokeHarness.runTws(TestSession.spark,
      SpokeHarness.stage(TestSession.spark, files))
    val drained = got.find(_.kind == "log").get
    assert(drained.value == n.toDouble, drained.toString)
    // drain goes through the 2-of-10 split: 20% of 10k capped at ring 256
    val resp = got.find(_.kind == "response").get
    assert(resp.info.contains("testn=256"), resp.info)
    val d = SpokeHarness.diff(got, SpokeHarness.replay(files))
    assert(d.isEmpty, d)
  }

  test("job stats: final statistics only after workers x pipelines Terminate partials") {
    val workers = 2
    def part(tag: String, pip: Int, w: Int, fitted: Long, score: Double, ts: Long) =
      StatPartial(tag, pip, w, 1L, 64L, fitted, 2.0, score, ts)
    val step = JobStatsOperator.step(workers, 30000L) _
    // ongoing stats for two pipelines
    val (o1, st, timer) = step(Iterator(
      part("stats", 1, 0, 100, 0.0, 1000L),
      part("stats", 2, 0, 50, 0.0, 2000L),
      part("stats", 1, 1, 110, 0.0, 6000L)), None, 0L)
    assert(o1.isEmpty && st.nonEmpty)
    assert(timer == Some(36000L))
    // quiescence timer fires -> terminate signal, state retained for partials
    val (o2, fired) = JobStatsOperator.onTimer(st.get)
    assert(o2.length == 1 && o2.head.kind == "terminate_signal")
    assert(fired.nonEmpty, "state cleared before the Terminate partials arrived")
    // 3 of 4 partials: nothing emitted yet (the exactly-(w x p) barrier)
    val (o3, st2, _) = step(Iterator(
      part("Terminate", 1, 0, 5, 0.75, 41000L),
      part("Terminate", 2, 0, 3, 0.5, 41001L),
      part("Terminate", 1, 1, 7, 0.25, 41002L)), fired, 41000L)
    assert(o3.isEmpty, s"emitted before all partials: $o3")
    // the 4th partial completes the barrier: one final record per pipeline
    val (o4, st3, _) = step(Iterator(part("Terminate", 2, 1, 4, 1.0, 42000L)),
      st2, 42000L)
    assert(o4.length == 2, o4.toString)
    assert(o4.map(_.kind).toSet == Set("job_statistics_final"))
    assert(st3.isEmpty)
    val p1 = o4.find(_.pipelineId == 1).get
    val p2 = o4.find(_.pipelineId == 2).get
    // score = sum(partial score x testSetSize) / (workers x testSetSize)
    assert(math.abs(p1.value - 0.5) < 1e-12, p1.toString)
    assert(math.abs(p2.value - 0.75) < 1e-12, p2.toString)
    // makespan = end - start = 6000 - 1000; fitted = ongoing + partials
    assert(p1.info.contains("makespan=5000"), p1.info)
    assert(p1.info.contains("fitted=222"), p1.info) // 100+110 ongoing + 5+7
    assert(p2.info.contains("fitted=57"), p2.info) // 50 ongoing + 3+4
    assert(p1.info.contains("partials=2") && p2.info.contains("partials=2"))
  }

  test("K5 and K6 release exactly once across a restart on RocksDB") {
    import org.apache.spark.sql.{Dataset, Encoder}
    import scala.jdk.CollectionConverters._
    val spark = Streaming.stateSession(TestSession.spark)
    import spark.implicits._
    val dir = Streaming.scratchDir("graft_k5k6_")
    /** Drain `sub` through `op` into its own output, resuming the last
      * drain of `sub`; this drain's rows. */
    def drainOut[A: Encoder, B: Encoder](sub: String,
        op: Dataset[A] => Dataset[B]): Seq[B] = {
      val got = new java.util.concurrent.ConcurrentLinkedQueue[B]()
      Streaming.drain(spark, s"$dir/$sub", implicitly[Encoder[A]].schema,
        Streaming.Sink.Writes(Streaming.Output(s"$dir/out_$sub"))((b, _) =>
          b.as[B].collect().foreach(got.add)))(src => op(src.as[A]).toDF())
      got.asScala.toSeq
    }
    def merged() = drainOut[WorkerResponse, MergedResponse]("resp",
      ResponseMerge.run(_, 4))
    def finals() = drainOut[StatPartial, SpokeEvent]("stats",
      JobStatsOperator.run(_, workers = 2, timeoutMs = 30000L))
      .filter(_.kind == "job_statistics_final")
    def wr(w: Int) = WorkerResponse(1, w, 9L, 100L + w, 10L, 0.1 * (w + 1), 0.5)
    def part(tag: String, p: Int, w: Int, ts: Long) =
      StatPartial(tag, p, w, 1L, 64L, 10L, 2.0, 0.5, ts)
    val stats = for (p <- 1 to 2; w <- 0 to 1) yield part("stats", p, w, 1000L * (2 * p + w))
    val term = for (p <- 1 to 2; w <- 0 to 1)
      yield part("Terminate", p, w, 10000L + 10L * (2 * p + w))
    // first drain: 3 of 4 worker responses; the stats and 3 of 4 Terminates
    Streaming.stage(spark, s"$dir/resp", (0 until 3).map(wr).toDS())
    Streaming.stage(spark, s"$dir/stats", stats.toDS(), term.take(3).toDS())
    val (m1, f1) = (merged(), finals())
    // second drain, same checkpoints: the last response and Terminate
    Streaming.stage(spark, s"$dir/resp", Seq(wr(3)).toDS())
    Streaming.stage(spark, s"$dir/stats", term.drop(3).toDS())
    val (m2, f2) = (merged(), finals())
    assert(m1.isEmpty && f1.isEmpty, s"released before the last part: $m1 / $f1")
    assert(m2.map(m => (m.pipe, m.requestId, m.parts, m.fitted, m.testn)) ==
      Seq((1, 9L, 4, 406L, 40L)), m2.toString)
    assert(math.abs(m2.head.avgLoss - 0.25) < 1e-12, m2.toString)
    assert(f2.map(_.pipelineId).sorted == Seq(1, 2), f2.toString)
    // makespan = 5000 - 2000; fitted = 2 ongoing + 2 Terminate x 10
    f2.foreach(f => assert(f.info.startsWith("makespan=3000,") &&
      f.info.contains("fitted=40,") && f.info.endsWith("partials=2"), f.info))
  }

  test("two pipelines in one envelope stream keep isolated models") {
    val st1 = new Steps(1); val st2 = new Steps(2)
    def forPipeline(p: Int)(e: Envelope) = e.copy(pipelineId = p)
    val create = ctl(0, "Create", "PA")
    st1(create, data(1, 1, Some(1.0)), data(2, 2, Some(1.0)))
    st2(forPipeline(2)(create), data(1, 9, Some(-1.0)))
    val r1 = st1(ctl(10, "Query")).head
    val r2 = st2(forPipeline(2)(ctl(10, "Query"))).head
    assert(r1.info.startsWith("fitted=2,"))
    assert(r2.info.startsWith("fitted=1,"))
    assert(r1.pipelineId == 1 && r2.pipelineId == 2)
  }

  test("within-trigger events replay in seq order regardless of iterator order") {
    val st = new Steps()
    // Create has lower seq than the data — must apply first even though the
    // iterator delivers it last
    val out = st(data(5, 10, Some(1.0)), data(6, 11, Some(1.0)), ctl(0, "Create", "PA"))
    assert(out.find(_.kind == "log").get.value == 0.0) // nothing buffered
    val out2 = st(ctl(10, "Query"))
    assert(out2.head.info.startsWith("fitted=2,"))
  }

  test("transformWithState checkpoint survives adding a state field (avro evolution)") {
    // UnsafeRow-encoded state cannot gain a field without abandoning the
    // checkpoint. This gate proves the transformWithState + avro-encoding
    // combination actually reopens a PRE-EVOLUTION checkpoint after the
    // state case class grows an Option field, carrying old counts forward.
    val s2 = Streaming.stateSession(TestSession.spark)
    s2.conf.set("spark.sql.streaming.stateStore.encodingFormat", "avro")
    import s2.implicits._
    val dir = graft.streaming.Streaming.scratchDir("graft_twsevo_")
    def stage(lo: Int, hi: Int): Unit =
      (lo until hi).map(i => EvoRec(i % 4, i.toLong)).toDS()
        .coalesce(1).write.mode("append").parquet(s"$dir/data")
    def run(proc: org.apache.spark.sql.streaming.StatefulProcessor[Int, EvoRec, EvoOut])
        : Unit = {
      import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
      val src = s2.readStream
        .schema(implicitly[org.apache.spark.sql.Encoder[EvoRec]].schema)
        .parquet(s"$dir/data").as[EvoRec]
      // file sink, not memory: the memory sink refuses checkpoint recovery,
      // and reopening the checkpoint is the whole point of this gate
      val q = src.groupByKey(_.k)
        .transformWithState(proc, TimeMode.None(), OutputMode.Append())
        .writeStream.format("parquet").outputMode("append")
        .option("path", s"$dir/out")
        .option("checkpointLocation", s"$dir/_ckpt").start()
      q.processAllAvailable(); q.stop()
    }
    stage(0, 40)
    run(new EvoProcV1) // checkpoint written with EvoStateV1
    stage(40, 60)
    run(new EvoProcV2) // same checkpoint, evolved state
    val out = s2.read.parquet(s"$dir/out").as[EvoOut].collect()
    for (k <- 0 until 4) {
      val last = out.filter(_.k == k).maxBy(_.cnt)
      assert(last.cnt == 15L,
        s"key $k: pre-evolution count lost on reopen — got ${last.cnt}")
      assert(last.maxSeq == 56L + k, s"key $k: maxSeq ${last.maxSeq}")
    }
  }

  test("a drain over the staged events stream sees its batches in staging " +
    "order: the ts-range halves in ts order, then the sentinel alone") {
    import org.apache.spark.sql.functions._
    val spark = TestSession.spark
    val sf = "/root/testdata/sf0.001"
    val (dir, schema, maxTs) = Streaming.stageEventsCached(spark, sf)
    // (batch id, rows, sentinel rows, min ts, max ts)
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Long, Long, Long)]()
    Streaming.drain(spark, dir, schema, Streaming.Sink.Batches { (b, id) =>
      val r = b.agg(count(lit(1)),
        sum(when(col("event_type") === "sentinel", 1L).otherwise(0L)),
        min(unix_micros(col("ts"))), max(unix_micros(col("ts")))).head()
      seen.add((id, r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    })(identity)
    val bs = seen.toArray(Array.empty[(Long, Long, Long, Long, Long)]).sortBy(_._1)
    assert(bs.map(_._1).toSeq == Seq(0L, 1L, 2L), bs.mkString(", "))
    assert(bs(0)._5 <= bs(1)._4, s"batch 0 holds a ts past batch 1's first: ${bs.mkString(", ")}")
    assert(bs(0)._3 == 0L && bs(1)._3 == 0L, "a data batch holds the sentinel")
    assert(bs(2)._2 == 1L && bs(2)._3 == 1L && bs(2)._4 > maxTs,
      s"the last batch is not the sentinel alone: ${bs(2)}")
  }

  test("crash between WAL write and sink commit recovers exactly-once " +
    "(both state-store providers)") {
    // drives the same crashRecoveryRun the driver-gated st40 uses: clean
    // run, delete commits/N + sink _spark_metadata/N (orphan data files
    // left behind), restart, and require (a) the WAL/sink entries are
    // re-written, (b) new output files appeared (batch N re-executed),
    // (c) the metadata-aware sink read equals the batch aggregate — no
    // dupes from the orphans, no gaps from a skipped re-execution.
    import org.apache.spark.sql.functions._
    val spark = TestSession.spark
    val sf = "/root/testdata/sf0.001"
    val (dir, schema, _) = Streaming.stageEventsCached(spark, sf)
    val expected = T.events(spark, sf)
      .groupBy(col("event_type"),
        unix_micros(date_trunc("day", col("ts"))).as("day_us"))
      .agg(count(lit(1)).as("n"),
        sum(Num.dec2(col("value"))).cast("double").as("sum_value"))
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    for (provider <- Seq("hdfs", "rocksdb")) {
      val got = graft.operators.StreamOps
        .crashRecoveryRun(spark, dir, schema, provider)
        .collect()
      assert(got.nonEmpty, s"$provider: empty recovery output")
      got.foreach { r =>
        assert(r.getAs[Boolean]("recovered_commit"),
          s"$provider: deleted WAL/sink entries not re-written")
        assert(r.getAs[Boolean]("reexecuted"),
          s"$provider: no new output files — batch was not re-executed")
      }
      val agg = got.map(r => (r.getAs[String]("event_type"),
        r.getAs[Long]("day_us")) ->
        (r.getAs[Long]("n"), r.getAs[Double]("sum_value"))).toMap
      assert(agg == expected,
        s"$provider: post-crash sink != batch aggregate " +
          s"(${agg.size} vs ${expected.size} groups)")
    }
  }

  test("st26 cusumFold survives one dominant key and matches a naive fold") {
    import graft.operators.{CusumState, StreamOps}
    def bd(i: Int) = new java.math.BigDecimal(s"${50 + (i % 23)}.0${i % 10}")
    // one hot key with 50k rows (the skewed event_type), two cold keys;
    // rows pre-sorted per the repartition+sortWithinPartitions contract
    val hot = (0 until 50000).map(i => ("hot", i.toLong, i.toLong, bd(i)))
    val cold = Seq("cold_a", "cold_b").flatMap(k =>
      (0 until 10).map(i => (k, i.toLong, i.toLong, bd(i + 7))))
    val rows = (cold.filter(_._1 == "cold_a") ++ hot ++
      cold.filter(_._1 == "cold_b")).iterator
    val prior = Map("hot" ->
      CusumState("hot", "12.00", "-3.00", "15.00", 4L, 0L, -1L))
    val got = StreamOps.cusumFold(prior, rows)
      .map(st => st.event_type -> st).toMap
    // naive reference: per-key toSeq fold with the same decimal recurrence
    def naive(key: String, vs: Seq[java.math.BigDecimal]): CusumState = {
      var st = prior.getOrElse(key,
        CusumState(key, "0.00", "0.00", "0.00", 0L, 0L, -1L))
      for (v <- vs) {
        val cs = BigDecimal(st.cs) + BigDecimal(v) - BigDecimal("55.00")
        val mn = BigDecimal(st.mn).min(cs)
        val ph = cs - mn
        st = CusumState(key, cs.toString, mn.toString,
          BigDecimal(st.maxPh).max(ph).toString, st.nPts + 1,
          st.nAlarms + (if (ph > BigDecimal("500.00")) 1 else 0),
          if (st.firstAlarm >= 0) st.firstAlarm
          else if (ph > BigDecimal("500.00")) st.nPts + 1 else -1L)
      }
      st
    }
    val all = cold ++ hot
    for (key <- Seq("hot", "cold_a", "cold_b")) {
      val exp = naive(key, all.filter(_._1 == key).sortBy(r => (r._2, r._3))
        .map(_._4))
      assert(got(key) == exp, s"$key: iterator fold != naive fold")
    }
    assert(got("hot").nPts == 50004L) // prior 4 + this batch's 50k
  }
}

// --- transformWithState schema-evolution fixtures (top-level: Spark must
// serialize the processors and encode the case classes) ---

case class EvoRec(k: Int, seq: Long)
case class EvoStateV1(cnt: Long)
/** V1 + one Option field — the exact "state gained a field" shape that
  * UnsafeRow-encoded state cannot survive; avro-encoded tws state must.
  */
case class EvoStateV2(cnt: Long, maxSeq: Option[Long])
case class EvoOut(k: Int, cnt: Long, maxSeq: Long)

class EvoProcV1
    extends org.apache.spark.sql.streaming.StatefulProcessor[Int, EvoRec, EvoOut] {
  import org.apache.spark.sql.streaming.{TimerValues, TTLConfig, ValueState}
  import org.apache.spark.sql.Encoders
  @transient private var st: ValueState[EvoStateV1] = _
  override def init(outputMode: org.apache.spark.sql.streaming.OutputMode,
      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
    st = getHandle.getValueState[EvoStateV1]("cnt",
      Encoders.product[EvoStateV1], TTLConfig.NONE)
  override def handleInputRows(key: Int, rows: Iterator[EvoRec],
      timerValues: TimerValues): Iterator[EvoOut] = {
    val c = (if (st.exists()) st.get().cnt else 0L) + rows.size
    st.update(EvoStateV1(c))
    Iterator.single(EvoOut(key, c, -1L))
  }
}

class EvoProcV2
    extends org.apache.spark.sql.streaming.StatefulProcessor[Int, EvoRec, EvoOut] {
  import org.apache.spark.sql.streaming.{TimerValues, TTLConfig, ValueState}
  import org.apache.spark.sql.Encoders
  @transient private var st: ValueState[EvoStateV2] = _
  override def init(outputMode: org.apache.spark.sql.streaming.OutputMode,
      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
    st = getHandle.getValueState[EvoStateV2]("cnt",
      Encoders.product[EvoStateV2], TTLConfig.NONE)
  override def handleInputRows(key: Int, rows: Iterator[EvoRec],
      timerValues: TimerValues): Iterator[EvoOut] = {
    val prev = if (st.exists()) Some(st.get()) else None
    var c = prev.map(_.cnt).getOrElse(0L)
    var mx = prev.flatMap(_.maxSeq).getOrElse(-1L)
    rows.foreach { r => c += 1; mx = math.max(mx, r.seq) }
    st.update(EvoStateV2(c, Some(mx)))
    Iterator.single(EvoOut(key, c, mx))
  }
}

/** An `AbstractFileSystem` for a scheme no file: path has, so that a
  * checkpoint root on it is not local; only constructed, never written. */
class RemoteTestFs(uri: java.net.URI, conf: org.apache.hadoop.conf.Configuration)
    extends org.apache.hadoop.fs.DelegateToFileSystem(uri,
      new org.apache.hadoop.fs.RawLocalFileSystem(), conf, "graftremote", false)
