package graft

import graft.plans.{DeploymentJson, Pipeline}
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.SparkSession

/** The user-facing loop as a CLI: run a STORED streamtasks deployment
  * (the task_web.py JSON artifact — what `streamtasks export` leaves
  * on disk) against parquet-backed streams, no Scala authoring.
  *
  * {{{
  * runMain graft.RunDeployment <deployment.json> <outDir> \
  *   [--bind name=envelope.parquet ...] [--node nodeName] [--streaming]
  * }}}
  *
  *  - every named input (named-input tasks, pulse-generator ticks,
  *    input-container tracks as `<source>#<kind><idx>`, and
  *    synthesized external topics) must be bound to an envelope
  *    parquet: columns (ts LONG, value DOUBLE, text STRING,
  *    paused BOOLEAN, seq LONG) plus an optional `pipe` STRING for
  *    multi-pipeline runs;
  *  - an input-container TRACK may instead be bound to a CAPTURED
  *    `.flv` file (the frame layer RTMP delivers, [[sources.Flv]]):
  *    the capture is read distributed (`binaryFile` — bytes stay on
  *    executors), demuxed, and the matching track becomes the
  *    envelope stream — raw-s16 audio payloads explode to per-sample
  *    rows on the track's declared sample clock (rate from the
  *    deployment's track config), video tags become one frame-hex row
  *    each. Only `#audio0`/`#video0` exist in an FLV (one stream of
  *    each kind). An audio track may also bind a RECORDED file on the
  *    file's own sample clock: `.wav` (RIFF, [[sources.Wav]]),
  *    `.flac` (RFC 9639, [[sources.Flac]] — decoded with per-frame
  *    CRC and stream-MD5 verification) or `.mp4` (classic moov
  *    sample-table layout, [[sources.IsoBmff]] `demuxFlat` — raw-s16
  *    payload blocks on the stts clock);
  *  - `--node` enables the reference's hash task_host_id resolution
  *    (task.py:153) for real exports; loader-friendly exports with
  *    plain kind names need nothing;
  *  - every named output is written to `outDir/<name>.parquet` and a
  *    one-line JSON summary of row counts goes to stdout.
  *
  * Default is batch semantics (the hash-gated engine path).
  * `--streaming` runs the SAME compiled DAG on the Structured
  * Streaming branch instead: the bound inputs are staged together
  * ([[graft.streaming.StreamRun.stage]]: two non-empty ts-range
  * chunks, or the run is refused) and replayed as a file-source
  * stream (one chunk per micro-batch), the machines
  * run as flatMapGroupsWithState over real state stores, and each
  * named output lands through a checkpointed parquet FILE SINK with
  * an `AvailableNow` trigger — the run drains the staged input and
  * terminates, like the reference's deployment start→Ended lifecycle.
  * State still buffered when the source drains stays buffered (ship
  * in-band pause markers to flush, e27's convention). The long-lived
  * schedule/start/stop/status surface is [[graft.plans.PipelineManager]]
  * — see PipelineSpec's lifecycle tests and the c09/e50 mounts.
  */
object RunDeployment {
  def main(args: Array[String]): Unit = {
    val positional = Vector.newBuilder[String]
    val bindsB = Map.newBuilder[String, String]
    var nodeName: Option[String] = None
    var streaming = false
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "--bind" =>
          require(i + 1 < args.length && args(i + 1).contains('='),
            "--bind takes name=path")
          val Array(n, p) = args(i + 1).split("=", 2)
          bindsB += n -> p; i += 2
        case "--node" =>
          require(i + 1 < args.length, "--node takes a node name")
          nodeName = Some(args(i + 1)); i += 2
        case "--streaming" => streaming = true; i += 1
        case a => positional += a; i += 1
      }
    }
    val pos = positional.result()
    require(pos.length == 2,
      "usage: RunDeployment <deployment.json> <outDir> " +
        "[--bind name=path ...] [--node nodeName] [--streaming]")
    val Vector(jsonPath, outDir) = pos
    val binds = bindsB.result()

    // embeddable: reuse a live session (tests, notebooks) and leave
    // its lifecycle to the owner; close only a session we created
    val preExisting = SparkSession.getDefaultSession.isDefined
    val spark = GraftSession.build()

    val json = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(jsonPath)), "UTF-8")
    val loaded = DeploymentJson.load(json, nodeName = nodeName)
    val missing = loaded.namedInputs.keySet.diff(binds.keySet)
    require(missing.isEmpty,
      s"unbound named inputs: ${missing.toSeq.sorted.mkString(", ")} — " +
        "pass --bind <name>=<envelope.parquet> for each")
    val sources: Map[String, org.apache.spark.sql.DataFrame] =
      if (!streaming)
        loaded.namedInputs.map { case (name, stream) =>
          stream -> bindFrame(spark, loaded, name, stream, binds(name))
        }
      else {
        // ONE unified staged source (the engine's mount convention,
        // c06/c09/e50): all inputs tagged and chunked on the GLOBAL
        // ts order — separate per-input file sources would make the
        // cross-input arrival order a batch-alignment accident (a
        // control topic could open a gate a batch before its data),
        // where the unified chunks replay the same event order the
        // batch fold uses. Equal-ts rows never straddle a chunk
        // (range partitioning keeps equal keys together), so the
        // in-batch (ts, control-first, seq) sort sees every tie.
        import org.apache.spark.sql.functions.{col, lit}
        val tagged = loaded.namedInputs.toSeq.sortBy(_._1).map {
          case (name, stream) =>
            bindFrame(spark, loaded, name, stream, binds(name))
              .withColumn("__input", lit(name))
        }
        val schemas = tagged.map(_.schema.fieldNames.toSeq).distinct
        require(schemas.size == 1,
          s"--streaming needs identical envelope schemas across inputs, " +
            s"got: ${schemas.mkString(" vs ")}")
        val stage = new java.io.File(s"$outDir/_stage")
        val unified = tagged.reduce(_ unionByName _)
        // re-staged on every run: two ts-range chunks, replayed in order
        FileUtils.deleteQuietly(stage)
        graft.streaming.StreamRun.stage(unified, Seq(col("ts")), 2, stage)
        val streamDf = spark.readStream.schema(unified.schema)
          .option("maxFilesPerTrigger", 1).parquet(stage.toString)
        loaded.namedInputs.map { case (name, stream) =>
          stream -> streamDf.filter(col("__input") === name).drop("__input")
        }
      }
    val streams = Pipeline.compile(loaded.deployment, sources)
    val outputs = loaded.namedOutputs.toSeq.sortBy(_._1)
    if (streaming) {
      // rerun-safe like batch's overwrite: stale sink data + commit
      // logs + checkpoints from a previous run would otherwise be
      // APPENDED to (the re-staged part files have fresh names, so a
      // surviving checkpoint replays everything as new)
      outputs.foreach { case (name, _) =>
        FileUtils.deleteQuietly(new java.io.File(s"$outDir/$name.parquet"))
        FileUtils.deleteQuietly(new java.io.File(s"$outDir/_checkpoints/$name"))
      }
      // start every sink first, then await: each query has its own
      // checkpoint, so the source replays overlap instead of running
      // the whole DAG once per output strictly serialized
      val queries = outputs.map { case (name, stream) =>
        streams(stream).writeStream.format("parquet")
          .option("path", s"$outDir/$name.parquet")
          .option("checkpointLocation", s"$outDir/_checkpoints/$name")
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
      }
      queries.foreach(_.awaitTermination())
    }
    val counts = outputs.map { case (name, stream) =>
      val path = s"$outDir/$name.parquet"
      if (!streaming) streams(stream).write.mode("overwrite").parquet(path)
      name -> spark.read.parquet(path).count()
    }
    println(counts.map { case (n, c) => s""""$n":$c""" }
      .mkString("""{"deployment":"""" + loaded.deployment.name +
        """","outputs":{""", ",", "}}"))
    if (!preExisting) GraftSession.close(spark)
  }

  /** One bound input: envelope parquet, or a captured `.flv` (live
    * frame stream) / recorded `.wav` (RIFF file) / recorded `.flac`
    * (the reference matrix's lossless format, decoded through the
    * full RFC 9639 parser with CRC verification) demuxed distributed
    * into the named track's envelope stream. */
  private[graft] def bindFrame(spark: SparkSession,
      loaded: DeploymentJson.Loaded, name: String, stream: String,
      path: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    if (path.endsWith(".wav")) {
      require("#audio0$".r.findFirstIn(name).isDefined,
        s"--bind $name=$path: a .wav recording binds an input-container " +
          "audio track (<source>#audio0)")
      // the file's own header carries the sample clock
      return spark.read.format("binaryFile").load(path)
        .select(col("content").as[Array[Byte]])
        .flatMap { bytes =>
          val wd = graft.sources.Wav.demux(bytes)
          require(wd.bitsPerSample == 16 && wd.channels == 1,
            s"only s16 mono .wav binds are supported, got " +
              s"${wd.bitsPerSample}-bit ${wd.channels}-channel")
          graft.sources.Wav.samples16(wd.data).iterator.zipWithIndex
            .map { case (v, j) =>
              val ts = j * 1000L / wd.sampleRate
              (ts, v.toDouble, null: String, false, j.toLong)
            }
        }.toDF("ts", "value", "text", "paused", "seq")
    }
    if (path.endsWith(".flac")) {
      require("#audio0$".r.findFirstIn(name).isDefined,
        s"--bind $name=$path: a .flac recording binds an input-container " +
          "audio track (<source>#audio0)")
      // STREAMINFO carries the sample clock; decode verifies every
      // frame's CRC-8/CRC-16 and the stream's raw-sample MD5
      return spark.read.format("binaryFile").load(path)
        .select(col("content").as[Array[Byte]])
        .flatMap { bytes =>
          val (si, chans) = graft.sources.Flac.decodeFile(bytes)
          require(si.bitsPerSample == 16 && si.channels == 1,
            s"only s16 mono .flac binds are supported, got " +
              s"${si.bitsPerSample}-bit ${si.channels}-channel")
          require(si.md5.sameElements(graft.sources.Flac.rawMd5(chans)),
            s"--bind $name=$path: STREAMINFO MD5 mismatch — corrupt stream")
          chans(0).iterator.zipWithIndex.map { case (v, j) =>
            val ts = j * 1000L / si.sampleRate
            (ts, v.toDouble, null: String, false, j.toLong)
          }
        }.toDF("ts", "value", "text", "paused", "seq")
    }
    if (path.endsWith(".mp4")) {
      require("#audio0$".r.findFirstIn(name).isDefined,
        s"--bind $name=$path: an .mp4 recording binds an input-container " +
          "audio track (<source>#audio0)")
      // classic moov layout ([[sources.IsoBmff.demuxFlat]]); sample
      // dts are ms on the file's own clock, payloads are raw s16 blocks
      return spark.read.format("binaryFile").load(path)
        .select(col("content").as[Array[Byte]])
        .flatMap { bytes =>
          val (tracks, samples) = graft.sources.IsoBmff.demuxFlat(bytes)
          require(tracks.length == 1 && tracks.head.kind == "audio" &&
            tracks.head.channels == 1,
            s"only single-track mono audio .mp4 binds are supported, got " +
              tracks.map(t => s"${t.kind}/${t.codec}").mkString(","))
          val t = tracks.head
          require(t.codec == "gpcm",
            s"--bind $name: .mp4 audio binding decodes raw s16 payloads; " +
              s"the track's sample entry is '${t.codec}' — bind envelope " +
              "parquet or decode upstream")
          require(t.sampleRate >= 1, s"--bind $name: rate ${t.sampleRate}")
          samples.iterator.flatMap { sm =>
            graft.sources.Wav.samples16(sm.payload).iterator.zipWithIndex
              .map { case (v, j) =>
                (sm.dts + j * 1000L / t.sampleRate, v.toDouble) }
          }.zipWithIndex.map { case ((ts, v), k) =>
            (ts, v, null: String, false, k.toLong)
          }
        }.toDF("ts", "value", "text", "paused", "seq")
    }
    if (!path.endsWith(".flv")) return spark.read.parquet(path)
    val m = "#(audio|video)(\\d+)$".r.findFirstMatchIn(name).getOrElse(
      sys.error(s"--bind $name=$path: only input-container tracks " +
        "(<source>#audio0 / <source>#video0) can bind an .flv capture"))
    val kind = m.group(1)
    require(m.group(2).toInt == 0,
      s"--bind $name: an FLV carries one $kind stream — only index 0 exists")
    // the track's declared sample clock and codec, from the loaded
    // deployment's source meta
    val trackMeta = loaded.deployment.tasks
      .collectFirst { case t if t.outputs.contains(stream) => t.op }
      .collect { case graft.plans.Pipeline.SourceOp(meta) => meta.fields }
      .getOrElse(Map.empty[String, String])
    val rate = trackMeta.get("rate").map(_.toLong).getOrElse(1000L)
    require(rate >= 1, s"--bind $name: track rate $rate must be >= 1")
    val bytesDf = spark.read.format("binaryFile").load(path)
      .select(col("content").as[Array[Byte]])
    if (kind == "audio") {
      // samples are decoded as raw s16 mono — a coded track (mu-law,
      // ADPCM) wires a decoder task downstream and must not have its
      // coded bytes reinterpreted as PCM here
      val codec = trackMeta.getOrElse("codec", "raw")
      require(codec == "raw",
        s"--bind $name: .flv audio binding decodes raw s16 payloads; " +
          s"the track declares codec '$codec' — bind envelope parquet " +
          "or decode upstream")
      bytesDf.flatMap { bytes =>
        val (_, _, tags) = graft.sources.Flv.demux(bytes)
        // seq = running sample index: within a millisecond (rate >
        // 1000) the ts column ties, and the machines' (ts, seq) sort
        // must still recover the capture's sample order
        tags.iterator.filter(_.tagType == graft.sources.Flv.TagAudio)
          .flatMap { t =>
            graft.sources.Wav.samples16(t.payload).iterator.zipWithIndex
              .map { case (v, j) => (t.tsMs + j * 1000L / rate, v.toDouble) }
          }.zipWithIndex.map { case ((ts, v), k) =>
            (ts, v, null: String, false, k.toLong)
          }
      }.toDF("ts", "value", "text", "paused", "seq")
    }
    else
      bytesDf.flatMap { bytes =>
        val (_, _, tags) = graft.sources.Flv.demux(bytes)
        tags.iterator.filter(_.tagType == graft.sources.Flv.TagVideo)
          .map { t =>
            // frames ride `text` as lowercase hex (the engine's video
            // envelope convention); value NaN marks a text payload
            (t.tsMs, Double.NaN,
              t.payload.map("%02x".format(_)).mkString, false, t.tsMs)
          }
      }.toDF("ts", "value", "text", "paused", "seq")
  }
}
