package graft

import org.scalatest.funsuite.AnyFunSuite

/** End-to-end test of the [[RunDeployment]] CLI: a stored deployment
  * JSON on disk + envelope parquet feeds → named-output parquet, the
  * full "run your streamtasks export here" loop with zero Scala.
  */
class RunDeploymentSpec extends AnyFunSuite with SparkFixture with TempDirs {

  test("a stored calc -> gate deployment runs from JSON + parquet " +
      "bindings to named-output parquet") {
    import spark.implicits._
    val dir = tempDir("graft-rundep")
      .toString
    // the stored artifact: clicks -> calculator(a*2+1) -> gate(ctrl)
    val json = s"""{
      "deployment": {"id": "d", "label": "demo"},
      "tasks": [
        {"id": "1", "deployment_id": "d", "task_host_id": "namedinput",
         "label": "clicks", "config": {"name": "clicks", "out_topic": 1},
         "frontend_config": {}, "inputs": [], "outputs": []},
        {"id": "2", "deployment_id": "d", "task_host_id": "namedinput",
         "label": "ctrl", "config": {"name": "ctrl", "out_topic": 2},
         "frontend_config": {}, "inputs": [], "outputs": []},
        {"id": "3", "deployment_id": "d", "task_host_id": "calculator",
         "label": "calc", "config": {"formula": "a * 2 + 1",
           "variable_tracks": [{"name": "a", "in_topic": 1}],
           "out_topic": 3},
         "frontend_config": {}, "inputs": [], "outputs": []},
        {"id": "4", "deployment_id": "d", "task_host_id": "gate",
         "label": "gate", "config": {"fail_mode": "closed",
           "in_topic": 3, "control_topic": 2, "out_topic": 4},
         "frontend_config": {}, "inputs": [], "outputs": []},
        {"id": "5", "deployment_id": "d", "task_host_id": "namedoutput",
         "label": "out", "config": {"name": "gated", "in_topic": 4},
         "frontend_config": {}, "inputs": [], "outputs": []}
      ]}"""
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/dep.json"), json)
    // envelope feeds: 4 data rows; gate opens at ts 2
    Seq((0L, 1.0, null: String, false, 0L), (1L, 2.0, null, false, 1L),
      (3L, 3.0, null, false, 2L), (5L, 4.0, null, false, 3L))
      .toDF("ts", "value", "text", "paused", "seq")
      .write.parquet(s"$dir/clicks.parquet")
    Seq((2L, 1.0, null: String, false, 10L))
      .toDF("ts", "value", "text", "paused", "seq")
      .write.parquet(s"$dir/ctrl.parquet")
    RunDeployment.main(Array(s"$dir/dep.json", s"$dir/out",
      "--bind", s"clicks=$dir/clicks.parquet",
      "--bind", s"ctrl=$dir/ctrl.parquet"))
    val got = spark.read.parquet(s"$dir/out/gated.parquet")
      .filter(!org.apache.spark.sql.functions.col("paused"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1)
    // gate closed before ts 2: rows at ts 0/1 dropped; 3 and 5 pass
    // through calc (a*2+1)
    assert(got.toSeq == Seq((3L, 7.0), (5L, 9.0)))
  }

  test("a REFERENCE-SHAPED export loads unchanged: pydantic field " +
      "order variations, hash task_host_ids for a node name, UUID ids, " +
      "frontend_config position floats, task_instance nulls, dashboards, " +
      "and metadata 'key' fields are all tolerated") {
    import spark.implicits._
    // the fixture mirrors GET /api/deployment/{id}/tasks of the
    // reference UI (task_web.py:48-56 StoredTask/FullTask): field
    // order varies across tasks, ids are UUIDs, task_host_ids are the
    // sha256 node-hash form for node 'office-pc', frontend_config
    // carries the NodeEditor's float positions, and IO metadata keeps
    // the configurator 'key' fields
    val json = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(getClass.getResource(
        "/reference_export_fixture.json").toURI)), "UTF-8")
    val loaded = graft.plans.DeploymentJson.load(json,
      nodeName = Some("office-pc"))
    assert(loaded.namedInputs.keySet == Set("clicks", "views", "ctrl"))
    assert(loaded.namedOutputs.keySet == Set("gated", "views_sync"))
    // and it RUNS through the CLI unchanged
    val dir = tempDir("graft-refexp")
      .toString
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/export.json"), json)
    Seq((0L, 1.0, null: String, false, 0L), (1L, 2.0, null, false, 1L),
      (3L, 3.0, null, false, 2L), (5L, 4.0, null, false, 3L))
      .toDF("ts", "value", "text", "paused", "seq")
      .write.parquet(s"$dir/clicks.parquet")
    Seq((0L, 10.0, null: String, false, 4L), (1L, 20.0, null, false, 5L),
      (3L, 30.0, null, false, 6L), (5L, 40.0, null, false, 7L))
      .toDF("ts", "value", "text", "paused", "seq")
      .write.parquet(s"$dir/views.parquet")
    Seq((2L, 1.0, null: String, false, 10L))
      .toDF("ts", "value", "text", "paused", "seq")
      .write.parquet(s"$dir/ctrl.parquet")
    RunDeployment.main(Array(s"$dir/export.json", s"$dir/out",
      "--node", "office-pc",
      "--bind", s"clicks=$dir/clicks.parquet",
      "--bind", s"views=$dir/views.parquet",
      "--bind", s"ctrl=$dir/ctrl.parquet"))
    val gated = spark.read.parquet(s"$dir/out/gated.parquet")
      .filter(!org.apache.spark.sql.functions.col("paused"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1)
    // identical timestamps on both sync feeds -> everything passes the
    // synchronizer; gate (fail closed) opens at ctrl ts 2, calc a*2+1
    assert(gated.toSeq == Seq((3L, 7.0), (5L, 9.0)))
    val vs = spark.read.parquet(s"$dir/out/views_sync.parquet")
      .filter(!org.apache.spark.sql.functions.col("paused"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1)
    assert(vs.toSeq == Seq((0L, 10.0), (1L, 20.0), (3L, 30.0), (5L, 40.0)))
  }

  test("an inputcontainer track binds a CAPTURED .flv file: the " +
      "capture demuxes distributed, raw-s16 audio explodes to samples " +
      "on the declared clock, and the loaded meter DAG runs on it") {
    import graft.sources.{Flv, Wav}
    val dir = tempDir("graft-rundep3")
      .toString
    // capture: 300 samples of |x| = 1000 at 1 kHz in three 100-sample
    // audio tags, plus a video tag the audio bind must skip
    val tags = (0 until 3).map { b =>
      Flv.FlvTag(Flv.TagAudio, b * 100L, keyframe = true,
        Wav.pcm16(Array.fill(100)(if (b % 2 == 0) 1000 else -1000)))
    } :+ Flv.FlvTag(Flv.TagVideo, 0L, keyframe = true,
      Array[Byte](1, 2, 3, 4))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/capture.flv"), Flv.mux(tags))
    // rtmp-sourced inputcontainer -> volume meter -> named output,
    // the c14 DAG as a user artifact
    val json = """{
      "deployment": {"id": "d", "label": "live"},
      "tasks": [
        {"id": "1", "deployment_id": "d", "task_host_id": "inputcontainer",
         "label": "live", "config": {"source": "rtmp://cam/main",
           "real_time": false, "video_tracks": [],
           "audio_tracks": [{"sample_format": "s16", "codec": "raw",
             "channels": 1, "rate": 1000, "out_topic": 1}]},
         "frontend_config": {}, "inputs": [], "outputs": []},
        {"id": "2", "deployment_id": "d", "task_host_id": "audiovolumemeter",
         "label": "meter", "config": {"sample_format": "s16",
           "rate": 1000, "time_window": 125, "in_topic": 1, "out_topic": 2},
         "frontend_config": {}, "inputs": [], "outputs": []},
        {"id": "3", "deployment_id": "d", "task_host_id": "namedoutput",
         "label": "out", "config": {"name": "volume", "in_topic": 2},
         "frontend_config": {}, "inputs": [], "outputs": []}
      ]}"""
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/dep.json"), json)
    RunDeployment.main(Array(s"$dir/dep.json", s"$dir/out",
      "--bind", s"rtmp://cam/main#audio0=$dir/capture.flv"))
    val got = spark.read.parquet(s"$dir/out/volume.parquet")
      .filter(!org.apache.spark.sql.functions.col("paused"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1)
    // 300 constant-|1000| samples -> blocks at 0 and 125 release when
    // samples 125/250 arrive; the block at 250 never completes
    assert(got.map(_._1).toSeq == Seq(0L, 125L))
    val expect = math.sqrt(1000.0 * 125 / 32767.0 / 125.0)
    got.foreach { case (_, v) => assert(math.abs(v - expect) < 1e-12) }
  }

  test("an inputcontainer audio track binds a recorded .wav file on " +
      "the file's own sample clock") {
    import graft.sources.Wav
    val dir = tempDir("graft-rundep5")
      .toString
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/rec.wav"),
      Wav.mux(Wav.WavData(1000, 1, 16,
        Wav.pcm16(Array.fill(300)(1000)))))
    val json = """{
      "deployment": {"id": "d", "label": "rec"},
      "tasks": [
        {"id": "1", "deployment_id": "d", "task_host_id": "inputcontainer",
         "label": "rec", "config": {"source": "fixture.wav",
           "real_time": false, "video_tracks": [],
           "audio_tracks": [{"sample_format": "s16", "codec": "raw",
             "channels": 1, "rate": 1000, "out_topic": 1}]},
         "frontend_config": {}, "inputs": [], "outputs": []},
        {"id": "2", "deployment_id": "d", "task_host_id": "audiovolumemeter",
         "label": "meter", "config": {"sample_format": "s16",
           "rate": 1000, "time_window": 125, "in_topic": 1, "out_topic": 2},
         "frontend_config": {}, "inputs": [], "outputs": []},
        {"id": "3", "deployment_id": "d", "task_host_id": "namedoutput",
         "label": "out", "config": {"name": "volume", "in_topic": 2},
         "frontend_config": {}, "inputs": [], "outputs": []}
      ]}"""
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/dep.json"), json)
    RunDeployment.main(Array(s"$dir/dep.json", s"$dir/out",
      "--bind", s"fixture.wav#audio0=$dir/rec.wav"))
    val got = spark.read.parquet(s"$dir/out/volume.parquet")
      .filter(!org.apache.spark.sql.functions.col("paused"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1)
    assert(got.map(_._1).toSeq == Seq(0L, 125L))
  }

  test("an inputcontainer audio track binds a recorded .flac file and " +
      "yields byte-identical meter output to the same samples as .wav") {
    import graft.sources.{Flac, Wav}
    val dir = tempDir("graft-rundep6")
      .toString
    val samples = Array.tabulate(300)(i =>
      (((i + 7) * 2654435761L) % 4000L - 2000L).toInt)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/rec.flac"),
      Flac.encodeFile(Array(samples), 1000, blockSize = 64))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/rec.wav"),
      Wav.mux(Wav.WavData(1000, 1, 16, Wav.pcm16(samples))))
    val json = """{
      "deployment": {"id": "d", "label": "rec"},
      "tasks": [
        {"id": "1", "deployment_id": "d", "task_host_id": "inputcontainer",
         "label": "rec", "config": {"source": "fixture.flac",
           "real_time": false, "video_tracks": [],
           "audio_tracks": [{"sample_format": "s16", "codec": "raw",
             "channels": 1, "rate": 1000, "out_topic": 1}]},
         "frontend_config": {}, "inputs": [], "outputs": []},
        {"id": "2", "deployment_id": "d", "task_host_id": "audiovolumemeter",
         "label": "meter", "config": {"sample_format": "s16",
           "rate": 1000, "time_window": 125, "in_topic": 1, "out_topic": 2},
         "frontend_config": {}, "inputs": [], "outputs": []},
        {"id": "3", "deployment_id": "d", "task_host_id": "namedoutput",
         "label": "out", "config": {"name": "volume", "in_topic": 2},
         "frontend_config": {}, "inputs": [], "outputs": []}
      ]}"""
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/dep.json"), json)
    RunDeployment.main(Array(s"$dir/dep.json", s"$dir/outF",
      "--bind", s"fixture.flac#audio0=$dir/rec.flac"))
    RunDeployment.main(Array(s"$dir/dep.json", s"$dir/outW",
      "--bind", s"fixture.flac#audio0=$dir/rec.wav"))
    def rows(p: String) = spark.read.parquet(p)
      .filter(!org.apache.spark.sql.functions.col("paused"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).toSeq
    val flacRows = rows(s"$dir/outF/volume.parquet")
    assert(flacRows.nonEmpty && flacRows.map(_._1) == Seq(0L, 125L))
    // FLAC is lossless: the two recordings must meter identically
    assert(flacRows == rows(s"$dir/outW/volume.parquet"))
  }

  test("an inputcontainer audio track binds a recorded .mp4 (classic " +
      "moov layout) and meters identically to the same samples as .wav") {
    import graft.sources.{IsoBmff, Wav}
    import graft.sources.IsoBmff.{Mp4Sample, Mp4Track}
    val dir = tempDir("graft-rundep8")
      .toString
    val samples = Array.tabulate(300)(i =>
      (((i + 11) * 2654435761L) % 4000L - 2000L).toInt)
    val track = Mp4Track(1, "audio", "gpcm", sampleRate = 1000, channels = 1)
    val mp4Samples = samples.grouped(100).zipWithIndex.map { case (blk, bi) =>
      Mp4Sample(1, bi * 100L, 100L, keyframe = true, Wav.pcm16(blk))
    }.toSeq
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/rec.mp4"),
      IsoBmff.muxFlat(Seq(track), mp4Samples, chunkMax = 2))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/rec.wav"),
      Wav.mux(Wav.WavData(1000, 1, 16, Wav.pcm16(samples))))
    val json = """{
      "deployment": {"id": "d", "label": "rec"},
      "tasks": [
        {"id": "1", "deployment_id": "d", "task_host_id": "inputcontainer",
         "label": "rec", "config": {"source": "fixture.mp4",
           "real_time": false, "video_tracks": [],
           "audio_tracks": [{"sample_format": "s16", "codec": "raw",
             "channels": 1, "rate": 1000, "out_topic": 1}]},
         "frontend_config": {}, "inputs": [], "outputs": []},
        {"id": "2", "deployment_id": "d", "task_host_id": "audiovolumemeter",
         "label": "meter", "config": {"sample_format": "s16",
           "rate": 1000, "time_window": 125, "in_topic": 1, "out_topic": 2},
         "frontend_config": {}, "inputs": [], "outputs": []},
        {"id": "3", "deployment_id": "d", "task_host_id": "namedoutput",
         "label": "out", "config": {"name": "volume", "in_topic": 2},
         "frontend_config": {}, "inputs": [], "outputs": []}
      ]}"""
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/dep.json"), json)
    RunDeployment.main(Array(s"$dir/dep.json", s"$dir/outM",
      "--bind", s"fixture.mp4#audio0=$dir/rec.mp4"))
    RunDeployment.main(Array(s"$dir/dep.json", s"$dir/outW",
      "--bind", s"fixture.mp4#audio0=$dir/rec.wav"))
    def rows(p: String) = spark.read.parquet(p)
      .filter(!org.apache.spark.sql.functions.col("paused"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).toSeq
    val mp4Rows = rows(s"$dir/outM/volume.parquet")
    assert(mp4Rows.nonEmpty && mp4Rows.map(_._1) == Seq(0L, 125L))
    assert(mp4Rows == rows(s"$dir/outW/volume.parquet"))
  }

  test("a coded .mp4 track refuses the raw-PCM bind loudly") {
    import graft.sources.IsoBmff
    import graft.sources.IsoBmff.{Mp4Sample, Mp4Track}
    val dir = tempDir("graft-rundep9")
      .toString
    val coded = Mp4Track(1, "audio", "ulaw", sampleRate = 1000, channels = 1)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/coded.mp4"),
      IsoBmff.muxFlat(Seq(coded),
        Seq(Mp4Sample(1, 0L, 10L, keyframe = true, Array[Byte](1, 2, 3, 4)))))
    val json = """{
      "deployment": {"id": "d", "label": "rec"},
      "tasks": [
        {"id": "1", "deployment_id": "d", "task_host_id": "inputcontainer",
         "label": "rec", "config": {"source": "f.mp4",
           "real_time": false, "video_tracks": [],
           "audio_tracks": [{"sample_format": "s16", "codec": "raw",
             "channels": 1, "rate": 1000, "out_topic": 1}]},
         "frontend_config": {}, "inputs": [], "outputs": []},
        {"id": "2", "deployment_id": "d", "task_host_id": "namedoutput",
         "label": "out", "config": {"name": "raw", "in_topic": 1},
         "frontend_config": {}, "inputs": [], "outputs": []}
      ]}"""
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/dep.json"), json)
    val e = intercept[Exception] {
      RunDeployment.main(Array(s"$dir/dep.json", s"$dir/out",
        "--bind", s"f.mp4#audio0=$dir/coded.mp4"))
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("ulaw")))
  }

  test("a corrupt .flac bind fails loudly instead of metering garbage") {
    import graft.sources.Flac
    val dir = tempDir("graft-rundep7")
      .toString
    val bytes = Flac.encodeFile(
      Array(Array.tabulate(100)(i => i * 3 - 150)), 1000, blockSize = 64)
    bytes(bytes.length - 1) = (bytes(bytes.length - 1) ^ 1).toByte
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/bad.flac"), bytes)
    val json = """{
      "deployment": {"id": "d", "label": "rec"},
      "tasks": [
        {"id": "1", "deployment_id": "d", "task_host_id": "inputcontainer",
         "label": "rec", "config": {"source": "f.flac",
           "real_time": false, "video_tracks": [],
           "audio_tracks": [{"sample_format": "s16", "codec": "raw",
             "channels": 1, "rate": 1000, "out_topic": 1}]},
         "frontend_config": {}, "inputs": [], "outputs": []},
        {"id": "2", "deployment_id": "d", "task_host_id": "namedoutput",
         "label": "out", "config": {"name": "raw", "in_topic": 1},
         "frontend_config": {}, "inputs": [], "outputs": []}
      ]}"""
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/dep.json"), json)
    val e = intercept[Exception] {
      RunDeployment.main(Array(s"$dir/dep.json", s"$dir/out",
        "--bind", s"f.flac#audio0=$dir/bad.flac"))
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("CRC")))
  }

  test("--streaming runs the same stored DAG on the Structured " +
      "Streaming branch: staged file-source replay, fMGWS machines, " +
      "checkpointed parquet sinks, AvailableNow drain — same rows as " +
      "the batch run") {
    import spark.implicits._
    val dir = tempDir("graft-rundep4")
      .toString
    val json = s"""{
      "deployment": {"id": "d", "label": "demo"},
      "tasks": [
        {"id": "1", "deployment_id": "d", "task_host_id": "namedinput",
         "label": "clicks", "config": {"name": "clicks", "out_topic": 1},
         "frontend_config": {}, "inputs": [], "outputs": []},
        {"id": "2", "deployment_id": "d", "task_host_id": "namedinput",
         "label": "ctrl", "config": {"name": "ctrl", "out_topic": 2},
         "frontend_config": {}, "inputs": [], "outputs": []},
        {"id": "3", "deployment_id": "d", "task_host_id": "calculator",
         "label": "calc", "config": {"formula": "a * 2 + 1",
           "variable_tracks": [{"name": "a", "in_topic": 1}],
           "out_topic": 3},
         "frontend_config": {}, "inputs": [], "outputs": []},
        {"id": "4", "deployment_id": "d", "task_host_id": "gate",
         "label": "gate", "config": {"fail_mode": "closed",
           "in_topic": 3, "control_topic": 2, "out_topic": 4},
         "frontend_config": {}, "inputs": [], "outputs": []},
        {"id": "5", "deployment_id": "d", "task_host_id": "namedoutput",
         "label": "out", "config": {"name": "gated", "in_topic": 4},
         "frontend_config": {}, "inputs": [], "outputs": []}
      ]}"""
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/dep.json"), json)
    // gate opens at ts 2; the unified stage is ts-RANGE chunked into
    // two files, so the rows split around the middle of the timeline
    // and the gate's OPEN state must survive a micro-batch boundary
    // via the state store (the offsets log below pins that the replay
    // really ran in >= 2 batches)
    Seq((0L, 1.0, null: String, false, 0L), (1L, 2.0, null, false, 1L),
      (3L, 3.0, null, false, 2L), (5L, 4.0, null, false, 3L))
      .toDF("ts", "value", "text", "paused", "seq")
      .write.parquet(s"$dir/clicks.parquet")
    Seq((2L, 1.0, null: String, false, 10L))
      .toDF("ts", "value", "text", "paused", "seq")
      .write.parquet(s"$dir/ctrl.parquet")
    val run = () => RunDeployment.main(Array(s"$dir/dep.json", s"$dir/out",
      "--bind", s"clicks=$dir/clicks.parquet",
      "--bind", s"ctrl=$dir/ctrl.parquet", "--streaming"))
    run()
    def gated() = spark.read.parquet(s"$dir/out/gated.parquet")
      .filter(!org.apache.spark.sql.functions.col("paused"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1)
    assert(gated().toSeq == Seq((3L, 7.0), (5L, 9.0)))
    // the streaming artifacts are real: a file-sink commit log and a
    // checkpoint directory per named output, with the source replayed
    // across >= 2 micro-batches (state crossed a real boundary)
    assert(new java.io.File(s"$dir/out/gated.parquet/_spark_metadata")
      .exists())
    val offsets = Option(new java.io.File(
      s"$dir/out/_checkpoints/gated/offsets").listFiles())
      .getOrElse(Array.empty).count(!_.getName.endsWith(".crc"))
    assert(offsets >= 2, s"expected >= 2 micro-batches, got $offsets")
    // rerun-safe like batch overwrite: a second --streaming run into
    // the same outDir must REPLACE the results, not append a copy
    run()
    assert(gated().toSeq == Seq((3L, 7.0), (5L, 9.0)))
  }

  test("unbound named inputs fail loudly with the missing names") {
    val dir = tempDir("graft-rundep2")
      .toString
    val json = """[{"id": "1", "deployment_id": "d",
      "task_host_id": "namedinput", "label": "feed",
      "config": {"name": "feed", "out_topic": 1},
      "frontend_config": {}, "inputs": [], "outputs": []},
      {"id": "2", "deployment_id": "d", "task_host_id": "numbertotext",
      "label": "fmt", "config": {"in_topic": 1, "out_topic": 2},
      "frontend_config": {}, "inputs": [], "outputs": []}]"""
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/dep.json"), json)
    val e = intercept[IllegalArgumentException] {
      RunDeployment.main(Array(s"$dir/dep.json", s"$dir/out"))
    }
    assert(e.getMessage.contains("unbound named inputs") &&
      e.getMessage.contains("feed"))
  }
}
