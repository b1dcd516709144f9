package graft.plans

import graft.functions.Calc
import graft.streaming.StateMachines._
import graft.streaming.StatefulRunner
import graft.streaming.StatefulRunner.{KEv, KOut}
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Deployment pipelines: the analogue of the reference's task-web
  * deployment system (SURVEY §3.2;
  * /root/reference/streamtasks/system/task_web.py:32-58,267-315) —
  * a named DAG of operator instances wired by streams, validated
  * before execution, compiled to Dataset graphs.
  *
  * Reference lifecycle → Spark mapping:
  *  - StoredTask config (pydantic)      → [[TaskSpec]] case class
  *  - IO metadata type-check (docs/io-metadata.md: all fields present
  *    on both sides must agree, label/key/topic_id ignored)
  *    → [[Pipeline.validate]] at analysis time, before any job runs
  *  - topic space isolation             → per-deployment key prefix
  *  - schedule/start/stop + status      → [[PipelineManager]] over
  *    StreamingQueryManager
  *
  * There is deliberately no optimizer here (the reference executes the
  * user DAG literally, SURVEY §4); Catalyst optimizes each compiled
  * Dataset graph instead — composition happens at the plan level, so
  * chained stateless operators fuse into one whole-stage-codegen span.
  *
  * Envelope schema on every edge: (ts: Long ms, value: Double,
  * text: String, paused: Boolean, seq: Long) — §1.2's message types as
  * one nullable-payload row, pause markers in-band (SURVEY §7.4).
  */
object Pipeline {

  /** IO metadata, mirroring IOTypes (configurators.py:8-19). */
  final case class IOMeta(fields: Map[String, String]) {
    def compatibleWith(that: IOMeta): Seq[String] =
      (fields.keySet intersect that.fields.keySet)
        .filterNot(Set("label", "key", "topic_id"))
        .flatMap { k =>
          if (fields(k) == that.fields(k)) None
          else Some(s"$k: '${fields(k)}' vs '${that.fields(k)}'")
        }.toSeq
  }
  object IOMeta {
    val number: IOMeta = IOMeta(Map("type" -> "ts", "content" -> "number"))
    val text: IOMeta = IOMeta(Map("type" -> "ts", "content" -> "text"))
    /** Raw audio (exploded TimestampChuckMessage samples riding
      * `value`) — the io-metadata shape the media tasks declare
      * (audiovolumescaler.py inputs: content=audio, codec=raw). */
    val audio: IOMeta =
      IOMeta(Map("type" -> "ts", "content" -> "audio", "codec" -> "raw"))
    /** Raw video (one frame per row, hex in `text`) — the io-metadata
      * shape the video tasks declare (videolayout.py, content=video,
      * codec=raw). */
    val video: IOMeta =
      IOMeta(Map("type" -> "ts", "content" -> "video", "codec" -> "raw"))
  }

  /** One operator instance: `inputs` name upstream streams; `outputs`
    * name the streams this instance produces, one per [[Op.outMetas]]
    * entry (the reference's StoredTask has a LIST of outputs,
    * task_web.py:50-58 — the synchronizer is the genuinely
    * multi-output task, one out topic per synchronized in topic). */
  final case class TaskSpec(
      name: String,
      op: Op,
      inputs: Seq[String],
      outputs: Seq[String]) {
    /** Single-output convenience accessor (most ops). */
    def output: String = {
      require(outputs.size == 1, s"task '$name' has ${outputs.size} outputs")
      outputs.head
    }
  }
  object TaskSpec {
    /** Single-output convenience constructor — the common case. */
    def apply(name: String, op: Op, inputs: Seq[String],
        output: String): TaskSpec = TaskSpec(name, op, inputs, Seq(output))
  }

  /** The operator catalog (the §2.1 subset that composes in pipelines;
    * each declares its IO metadata for validation). */
  sealed trait Op {
    def inMeta: Seq[IOMeta]
    def outMetas: Seq[IOMeta]
  }
  /** Ops with exactly one output stream — every op but the
    * synchronizer and the (output-less) named-output sink. */
  sealed trait SingleOutOp extends Op {
    def outMeta: IOMeta
    final def outMetas: Seq[IOMeta] = Seq(outMeta)
  }
  final case class SourceOp(meta: IOMeta) extends SingleOutOp {
    def inMeta = Nil; def outMeta = meta
  }
  final case class CalculatorOp(formula: String, vars: Seq[String],
      defaults: Map[String, Double] = Map.empty) extends SingleOutOp {
    def inMeta = vars.map(_ => IOMeta.number); def outMeta = IOMeta.number
    // validate the formula eagerly, like CalculatorConfig.validate_ast
    Calc.validate(Calc.parse(formula), vars.toSet)
  }
  final case class GateOp(failOpen: Boolean = false) extends SingleOutOp {
    // the reference gate forwards raw messages and declares its data
    // io as bare {type: ts} (gate.py:99-101) — content-typed data
    // (text/media) must wire through; only the control leg is a number
    def inMeta = Seq(IOMeta(Map("type" -> "ts")), IOMeta.number)
    def outMeta = IOMeta(Map("type" -> "ts"))
  }
  case object SrLatchOp extends SingleOutOp {
    def inMeta = Seq(IOMeta.number, IOMeta.number); def outMeta = IOMeta.number
  }
  final case class StringMatcherOp(pattern: String) extends SingleOutOp {
    def inMeta = Seq(IOMeta.text); def outMeta = IOMeta.number
  }
  case object NumberToTextOp extends SingleOutOp {
    def inMeta = Seq(IOMeta.number); def outMeta = IOMeta.text
  }
  final case class TimestampUpdaterOp(offsetMs: Long) extends SingleOutOp {
    def inMeta = Seq(IOMeta(Map("type" -> "ts"))); def outMeta = IOMeta(Map("type" -> "ts"))
  }
  /** Mux sink: one input per stream, bounded-desync interleave
    * ([[graft.streaming.StateMachines.OutputContainerSync]]); the
    * output carries (ts, dts in value, stream label in text). */
  final case class OutputContainerOp(streams: Seq[OcStreamCfg],
      maxDesync: Long) extends SingleOutOp {
    require(streams.nonEmpty, "output container needs at least one stream")
    def inMeta = streams.map(_ => IOMeta(Map("type" -> "ts")))
    def outMeta = IOMeta(Map("type" -> "ts"))
  }
  /** N×(data, control) pairs → the data of the max-control pair
    * (switch.py:63-72). Inputs in (data0, ctrl0, data1, ctrl1, …)
    * order — even indices data, odd control, as the machine expects. */
  final case class SwitchOp(pairs: Int) extends SingleOutOp {
    require(pairs >= 1, "switch needs at least one pair")
    // like the gate: data legs are bare ts (the machine forwards the
    // whole message, text included — e28 rides event ids through it);
    // control legs are numbers
    def inMeta = Seq.tabulate(2 * pairs)(i =>
      if (i % 2 == 0) IOMeta(Map("type" -> "ts")) else IOMeta.number)
    def outMeta = IOMeta(Map("type" -> "ts"))
  }
  /** Switch that defers cutover to the next keyframe of the newly
    * selected input (media/mediaswitch.py:15-27); data events carry
    * text = "k" on keyframes. */
  final case class MediaSwitchOp(pairs: Int) extends SingleOutOp {
    require(pairs >= 1, "media switch needs at least one pair")
    def inMeta = Seq.tabulate(2 * pairs)(i =>
      if (i % 2 == 0) IOMeta(Map("type" -> "ts")) else IOMeta.number)
    def outMeta = IOMeta(Map("type" -> "ts"))
  }
  /** `str.format_map` analogue over the last value of each named text
    * variable (textformatter.py:62-75): "{name}" placeholders. */
  final case class TextFormatterOp(template: String, vars: Seq[String])
      extends SingleOutOp {
    def inMeta = vars.map(_ => IOMeta.text)
    def outMeta = IOMeta.text
  }
  /** Accumulate text; control rising edge flushes the concatenation
    * (stringconcatenator.py:42-62). */
  case object StringConcatenatorOp extends SingleOutOp {
    def inMeta = Seq(IOMeta.text, IOMeta.number)
    def outMeta = IOMeta.text
  }
  /** Liveness signal: 1 per message, 0 at lastTs + timeout on silence
    * (messagedetector.py:30-88). */
  final case class MessageDetectorOp(timeoutMs: Long) extends SingleOutOp {
    def inMeta = Seq(IOMeta(Map("type" -> "ts")))
    def outMeta = IOMeta.number
  }
  /** Delay by `sizeMs` against message time (timebuffer.py:44-63). */
  final case class TimeBufferOp(sizeMs: Long) extends SingleOutOp {
    def inMeta = Seq(IOMeta(Map("type" -> "ts")))
    def outMeta = IOMeta(Map("type" -> "ts"))
  }
  /** Sample-and-hold re-emitted on clock ticks (repeater.py:36-69,
    * rate-source formulation): inputs (data, ticks). */
  case object RepeaterOp extends SingleOutOp {
    def inMeta = Seq(IOMeta.number, IOMeta(Map("type" -> "ts")))
    def outMeta = IOMeta.number
  }
  /** Format the message timestamp with an strftime pattern
    * (timetotext.py:29-37); stateless. */
  final case class TimeToTextOp(
      pattern: String = "%d/%m/%Y, %H:%M:%S") extends SingleOutOp {
    def inMeta = Seq(IOMeta(Map("type" -> "ts")))
    def outMeta = IOMeta.text
    // eager translation so a bad pattern fails at spec-build time
    val javaPattern: String =
      graft.functions.Strftime.toJavaPattern(pattern)
  }
  /** Stateful chat over a rolling context (llamacppchat.py:49-77);
    * the model call is injected — a deterministic function in tests,
    * a real handle in production. */
  final case class ChatOp(systemMsg: Option[String], contextBudget: Int,
      reply: Vector[(String, String)] => String) extends SingleOutOp {
    def inMeta = Seq(IOMeta.text)
    def outMeta = IOMeta.text
  }
  /** The SequentialInTopicSynchronizer as a deployment task
    * (synchronizer.py:11-45): N in topics, N out topics — each input
    * maps to its own output, release order synchronized across topics
    * by the [[graft.streaming.StateMachines.Synchronizer]] dict
    * machine (late events drop per topic; a paused topic can't stall
    * the rest). The genuinely multi-output op of the catalog. */
  final case class SynchronizerOp(metas: Seq[IOMeta]) extends Op {
    require(metas.nonEmpty, "synchronizer needs at least one topic")
    def inMeta = metas
    def outMetas = metas
  }
  object SynchronizerOp {
    def apply(topics: Int): SynchronizerOp =
      SynchronizerOp(Seq.fill(topics)(IOMeta(Map("type" -> "ts"))))
  }
  /** Replay buffer (replaybuffer.py:13-92): record the data input; a
    * rising edge on the play control replays everything currently
    * buffered, re-timestamped so the first buffered message plays at
    * the edge; an unpause transition on the data input clears the
    * buffer. `loop` replay is wall-clock-driven in the reference
    * (play repeats until the control drops) and has no bounded batch
    * analogue — rejected at spec-build time. */
  final case class ReplayBufferOp(loop: Boolean = false) extends SingleOutOp {
    require(!loop,
      "loop replay is wall-clock-driven (replaybuffer.py:70) — unsupported")
    def inMeta = Seq(IOMeta(Map("type" -> "ts")), IOMeta.number)
    def outMeta = IOMeta(Map("type" -> "ts"))
  }
  /** Audio volume scaler (media/audiovolumescaler.py:68-97): sample ×
    * last scale value, clipped to the dtype range and truncated like
    * numpy `.astype`. With a scale topic the op is the
    * [[graft.streaming.StateMachines.VolumeScaler]] machine (inputs
    * audio, scale); without one (`scale_topic: None` in the reference
    * config) the fixed `defaultScale` applies statelessly. `lo`/`hi`
    * default to the s16 dtype range (`get_dtype_min_max`, :17-21). */
  final case class AudioVolumeScalerOp(defaultScale: Double = 1.0,
      hasControl: Boolean = true, lo: Double = -32768, hi: Double = 32767)
      extends SingleOutOp {
    def inMeta = IOMeta.audio +: (if (hasControl) Seq(IOMeta.number) else Nil)
    def outMeta = IOMeta.audio
  }
  /** Audio volume meter (media/audiovolumemeter.py:61-74): AudioChunker
    * blocks of `rate · time_window / 1000` samples →
    * `sqrt(mean(|x|/max))` per block
    * ([[graft.streaming.StateMachines.VolumeMeter]]). */
  final case class AudioVolumeMeterOp(rate: Long = 32000,
      timeWindowMs: Long = 1000, maxValue: Double = 32767) extends SingleOutOp {
    require(rate > 0 && timeWindowMs > 0 && rate * timeWindowMs >= 1000,
      "volume meter chunk must be at least one sample")
    require(rate * timeWindowMs / 1000 <= Int.MaxValue,
      s"volume meter chunk ${rate * timeWindowMs / 1000} samples " +
        "overflows the buffer index")
    def chunkSamples: Int = (rate * timeWindowMs / 1000).toInt
    def inMeta = Seq(IOMeta.audio)
    def outMeta = IOMeta.number
  }
  /** ASR (inference/asrspeechrecognition.py:22-71): chunked audio →
    * incremental transcript symbols via the TRAINED AsrTiny head
    * ([[graft.streaming.StateMachines.AsrChunked]] — m15's weights).
    * `chunkSize` is the per-inference sample count (the reference's
    * chunk_size · 320 downsampling, here the model's feature dim). */
  final case class AsrOp(chunkSize: Int = 8) extends SingleOutOp {
    def inMeta = Seq(IOMeta.audio); def outMeta = IOMeta.text
  }
  /** FastSpeech2 TTS (inference/fastspeech2tts.py:38-77) on the
    * engine's structural chain: duration-regulated expansion to
    * `samplesPerChar` envelope samples per character
    * ([[graft.streaming.StateMachines.TtsSynth]], m08 + m29). */
  final case class TtsOp(samplesPerChar: Int = 8) extends SingleOutOp {
    def inMeta = Seq(IOMeta.text); def outMeta = IOMeta.audio
  }
  /** Speech enhancement (inference/smespeechenhancement.py /
    * waveformspeechenhancement.py) on the engine's structural kernel:
    * the p09 noise gate — samples under the threshold zero out (the
    * metricgan checkpoint binds at this seam in production). */
  final case class SpeechEnhanceOp(threshold: Double = 50.0)
      extends SingleOutOp {
    require(threshold >= 0)
    def inMeta = Seq(IOMeta.audio); def outMeta = IOMeta.audio
  }
  /** Audio mixer (audiomixer.py:76-120): N tracks buffered and
    * released at the min head timestamp once every unpaused track
    * has started and has samples; later heads gap-fill zero
    * ([[graft.streaming.StateMachines.AudioMixer]]). */
  final case class AudioMixerOp(tracks: Int) extends SingleOutOp {
    require(tracks >= 1)
    def inMeta = Seq.fill(tracks)(IOMeta.audio); def outMeta = IOMeta.audio
  }
  /** Audio decoder/encoder (audiodecoder.py / audioencoder.py) on the
    * engine's structural codecs: `pcm_mulaw` (stateless per-sample,
    * the p07 leg) or `adpcm_ima` (predictor/step-index machine, the
    * p10 leg). The libav aac/mp3/opus contexts stay at the media
    * edge — this is the codec SHAPE a deployment wires. */
  final case class AudioEncoderOp(codec: String) extends SingleOutOp {
    require(Set("pcm_mulaw", "adpcm_ima")(codec), s"unknown codec '$codec'")
    def inMeta = Seq(IOMeta.audio)
    def outMeta = IOMeta(Map("type" -> "ts", "content" -> "audio",
      "codec" -> codec))
  }
  final case class AudioDecoderOp(codec: String) extends SingleOutOp {
    require(Set("pcm_mulaw", "adpcm_ima")(codec), s"unknown codec '$codec'")
    def inMeta = Seq(IOMeta(Map("type" -> "ts", "content" -> "audio",
      "codec" -> codec)))
    def outMeta = IOMeta.audio
  }
  /** Audio resampler (audioresampler.py:22-52) on the engine's
    * rational grid: integer decimation or repetition
    * ([[graft.streaming.StateMachines.Resampler]]). */
  final case class AudioResamplerOp(inRate: Long, outRate: Long)
      extends SingleOutOp {
    require(inRate > 0 && outRate > 0 &&
      (inRate % outRate == 0 || outRate % inRate == 0),
      s"only rational decimation/repetition: $inRate → $outRate")
    def inMeta = Seq(IOMeta.audio); def outMeta = IOMeta.audio
  }
  /** Video pixel-format conversion (videoreformatter.py:39-54; the
    * engine's structural leg is the rgba↔bgra channel swizzle,
    * [[graft.functions.Codec.RgbaBgra]] — the libav sws formats stay
    * at the media edge). Stateless per frame. */
  case object VideoReformatterOp extends SingleOutOp {
    def inMeta = Seq(IOMeta.video); def outMeta = IOMeta.video
  }
  /** Video layout (videolayout.py:79-91): nearest-neighbour resize to
    * place_{w,h}, pasted at (top, left) into a transparent out_{w,h}
    * canvas ([[graft.functions.ImageKernel.layout]]). Stateless. */
  final case class VideoLayoutOp(inW: Int, inH: Int, placeW: Int,
      placeH: Int, top: Int, left: Int, outW: Int, outH: Int)
      extends SingleOutOp {
    def inMeta = Seq(IOMeta.video); def outMeta = IOMeta.video
  }
  /** Video activity meter (videoactivitymeter.py:54-64):
    * mean((prev − cur) mod 256) per frame pair — the reference's
    * exact uint8 arithmetic ([[graft.streaming.StateMachines.ActivityMeter]]). */
  case object VideoActivityMeterOp extends SingleOutOp {
    def inMeta = Seq(IOMeta.video); def outMeta = IOMeta.number
  }
  /** Video mixer (videomixer.py:101-128): last frame per track,
    * lazily alpha-composited on the second unblended arrival
    * ([[graft.streaming.StateMachines.VideoMixer]]). */
  final case class VideoMixerOp(tracks: Int, alphaFront: Boolean = true)
      extends SingleOutOp {
    require(tracks >= 1)
    def inMeta = Seq.fill(tracks)(IOMeta.video); def outMeta = IOMeta.video
  }
  /** Video encoder/decoder (videoencoder.py / videodecoder.py) on the
    * engine's delta-GOP structural codec (m09,
    * [[graft.streaming.StateMachines.DeltaEncoder]]): I-frame every
    * `gop` frames, byte-delta P-frames, `k|`/`p|` keyframe tags. */
  final case class VideoEncoderOp(gop: Int) extends SingleOutOp {
    require(gop >= 1)
    def inMeta = Seq(IOMeta.video)
    def outMeta = IOMeta(Map("type" -> "ts", "content" -> "video",
      "codec" -> "delta"))
  }
  case object VideoDecoderOp extends SingleOutOp {
    def inMeta = Seq(IOMeta(Map("type" -> "ts", "content" -> "video",
      "codec" -> "delta")))
    def outMeta = IOMeta.video
  }
  /** Text renderer (textrenderer.py:79-89): each text message rasters
    * onto a fixed canvas — the deterministic integer
    * [[graft.functions.Renderer.renderDigits]] glyph path (m12's),
    * so the frames are hash-exact cross-engine. Stateless. */
  final case class TextRendererOp(w: Int, h: Int, x: Int, y: Int,
      rgb: Int) extends SingleOutOp {
    def inMeta = Seq(IOMeta.text); def outMeta = IOMeta.video
  }
  /** Image renderer (imagerenderer.py:39-47): emits one fixed frame
    * per input tick (the reference renders a static file at `rate`;
    * the deterministic engine takes the tick stream as input, the
    * repeater's convention). */
  final case class ImageRendererOp(frameHex: String) extends SingleOutOp {
    require(frameHex.nonEmpty && frameHex.length % 2 == 0 &&
      frameHex.forall(c => (c >= '0' && c <= '9') || (c >= 'a' && c <= 'f')),
      "frameHex must be lowercase hex")
    def inMeta = Seq(IOMeta(Map("type" -> "ts")))
    def outMeta = IOMeta.video
  }
  /** Named-output sink (namedoutput.py:9-45): consumes one stream and
    * exposes it under a published name; produces no new stream. The
    * compiled deployment's named streams already make every edge
    * sinkable, so this is pure declaration — [[DeploymentJson]] maps
    * it to/from the reference's task kind. */
  final case class NamedOutputOp(name: String,
      meta: IOMeta = IOMeta(Map("type" -> "ts"))) extends Op {
    def inMeta = Seq(meta)
    def outMetas = Nil
  }

  final case class Deployment(name: String, tasks: Seq[TaskSpec])

  /** Analysis-time validation: unique stream names, no dangling
    * inputs, acyclicity, arity, and IO-metadata compatibility of every
    * wire. Returns all errors (not just the first). */
  def validate(dep: Deployment): Seq[String] = {
    val errs = Seq.newBuilder[String]
    val produced = dep.tasks.flatMap(t =>
      t.outputs.zipWithIndex.map { case (o, i) => (o, t, i) })
    produced.groupBy(_._1).collect { case (out, ps) if ps.size > 1 =>
      errs += s"stream '$out' has ${ps.size} producers" }
    // stream → the outMeta of its (first) producer
    val producerMeta: Map[String, IOMeta] = produced.flatMap {
      case (o, t, i) => t.op.outMetas.lift(i).map(o -> _) }.toMap
    val known = produced.map(_._1).toSet
    dep.tasks.foreach { t =>
      if (t.inputs.size != t.op.inMeta.size)
        errs += s"task '${t.name}': expects ${t.op.inMeta.size} inputs, got ${t.inputs.size}"
      if (t.outputs.size != t.op.outMetas.size)
        errs += s"task '${t.name}': expects ${t.op.outMetas.size} outputs, got ${t.outputs.size}"
      t.inputs.foreach(i =>
        if (!known(i)) errs += s"task '${t.name}': unknown input stream '$i'")
      t.inputs.zip(t.op.inMeta).foreach { case (in, meta) =>
        producerMeta.get(in).foreach { pm =>
          val bad = pm.compatibleWith(meta)
          if (bad.nonEmpty)
            errs += s"task '${t.name}' input '$in' incompatible: ${bad.mkString("; ")}"
        }
      }
    }
    // cycle check: Kahn over task dependencies
    var remaining = dep.tasks
    var progressed = true
    var resolved = Set.empty[String]
    while (progressed && remaining.nonEmpty) {
      val (ready, blocked) = remaining.partition(_.inputs.forall(i =>
        resolved(i) || !known(i)))
      progressed = ready.nonEmpty
      resolved ++= ready.flatMap(_.outputs)
      remaining = blocked
    }
    if (remaining.nonEmpty)
      errs += s"cycle involving tasks: ${remaining.map(_.name).mkString(", ")}"
    errs.result()
  }

  /** Compile a validated deployment against source streams in envelope
    * form. Works identically for batch DataFrames and streaming
    * DataFrames (the stateful path uses the shared state machines).
    * Returns every named stream, so any of them can be sunk. */
  def compile(dep: Deployment, sources: Map[String, DataFrame]): Map[String, DataFrame] = {
    val errors = validate(dep)
    require(errors.isEmpty, s"invalid deployment '${dep.name}': ${errors.mkString(" | ")}")
    var streams: Map[String, DataFrame] = sources
    var remaining = dep.tasks.filterNot(_.op.isInstanceOf[SourceOp])
    while (remaining.nonEmpty) {
      val (ready, blocked) = remaining.partition(_.inputs.forall(streams.contains))
      require(ready.nonEmpty, s"unresolvable tasks: ${blocked.map(_.name)}")
      ready.foreach { t =>
        streams ++= t.outputs.zip(compileTask(dep.name, t, streams)) }
      remaining = blocked
    }
    streams
  }

  /** Stateless-operator envelope: transform data rows, pass pause
    * markers through untouched (value carries the flag) — the
    * reference's tasks forward TopicControlData alongside data
    * (net/messages.py:36-41), so pause reaches every downstream task. */
  /** MULTI-PIPELINE deployments: a source envelope may carry an
    * optional string `pipe` column naming the pipeline INSTANCE the
    * row belongs to (a device id, a user shard). One compiled
    * deployment then serves every instance at once — each stateful
    * task keys its machine by `dep/task#pipe`, so a deployment with
    * millions of independent gates spreads across all executors'
    * state stores (the reference runs one task process per instance,
    * task.py:28-34; here instances are rows of one distributed
    * operator — the fan-out Catalyst is FOR). Stateless tasks pass
    * the column through; `fromKOut` recovers it after each machine.
    * All sources must agree (validated): a piped task joined to an
    * unpiped control has no well-defined instance. */
  private val PipeCol = "pipe"

  private def hasPipe(df: DataFrame): Boolean = df.columns.contains(PipeCol)

  private def envelope(ts: Column, value: Column, text: Column): Seq[Column] =
    Seq(ts.as("ts"),
      when(col("paused"), col("value")).otherwise(value).as("value"),
      when(col("paused"), lit(null).cast(StringType)).otherwise(text).as("text"),
      col("paused"), col("seq"))

  /** Stateless-op projection: envelope columns plus the pipe
    * passthrough when the deployment is multi-pipeline. */
  private def stateless(df: DataFrame, ts: Column, value: Column,
      text: Column): DataFrame = {
    val cols = (if (hasPipe(df)) Seq(col(PipeCol)) else Nil) ++
      envelope(ts, value, text)
    df.select(cols: _*)
  }

  private def toKEv(key: String, dfs: Seq[DataFrame]): Dataset[KEv] = {
    import StatefulRunner._
    val tagged = dfs.zipWithIndex.map { case (df, i) =>
      // The composite key is recovered by substring_index(key,'#',-1), so
      // a '#' inside a pipe value would merge distinct instances, and a
      // NULL pipe would be silently dropped by concat_ws (collapsing its
      // rows into a phantom instance keyed by the task alone) — fail the
      // row instead of corrupting state.
      val k = if (hasPipe(df)) {
        val checked = when(col(PipeCol).isNull || col(PipeCol).contains("#"),
          raise_error(concat(
            lit(s"task '$key': pipe value must be non-null and '#'-free, got '"),
            coalesce(col(PipeCol), lit("NULL")), lit("'"))).cast(StringType))
          .otherwise(col(PipeCol))
        concat_ws("#", lit(key), checked)
      } else lit(key)
      df.select(k.as("key"), lit(i).as("topic"), col("ts"),
        col("value"), col("text"), col("paused"), col("seq"))
    }
    tagged.reduce(_ unionByName _).as[KEv](kevEnc)
  }

  /** seq for machine OUTPUTS is TS-MAJOR: downstream arrival-order
    * machines (the synchronizer sorts its batch by seq alone) must see
    * the upstream's emission order, which the fold makes nondecreasing
    * in ts per key — a bare content hash would feed them hash order
    * and cause arbitrary late-drops. Low bits are a deterministic
    * content tie-break (paused included, so a marker and an
    * equal-content data row never collide). */
  private def seqCol(extra: org.apache.spark.sql.Column*): org.apache.spark.sql.Column =
    col("ts") * lit(1048576L) +
      pmod(xxhash64((extra :+ col("ts")) :+ col("value") :+ col("text")
        :+ col("paused"): _*), lit(1048576L))

  private def fromKOut(ds: Dataset[KOut], piped: Boolean): DataFrame =
    if (piped)
      ds.toDF().select(
        substring_index(col("key"), "#", -1).as(PipeCol),
        col("ts"), col("value"), col("text"), col("paused"),
        // per-key tie-break: include the key so equal-content rows of
        // different pipes don't collide
        seqCol(col("key")).as("seq"))
    else
      ds.toDF().select(col("ts"), col("value"), col("text"),
        col("paused"), // machines emit pause transitions in-band
        seqCol().as("seq"))

  private def isStreamingAny(dfs: Seq[DataFrame]): Boolean = dfs.exists(_.isStreaming)

  private def runMachine[S](key: String, m: Machine[S], ins: Seq[DataFrame],
      timeoutMs: Long = 0L): DataFrame = {
    val piped = ins.exists(hasPipe)
    require(!piped || ins.forall(hasPipe),
      s"task '$key': all inputs must carry '$PipeCol' or none")
    val kev = toKEv(key, ins)
    val out =
      if (isStreamingAny(ins)) StatefulRunner.runStreaming(m, kev, timeoutMs)
      else StatefulRunner.runBatch(m, kev)
    fromKOut(out, piped)
  }

  /** NULL-text sentinel for the synchronizer's topic tag (see
    * [[SynchronizerOp]] compile below): a value no reference message
    * text contains (U+0000). */
  private val NullTok = "\u0000"

  /** One compiled frame per declared output (singleton for every op
    * but the synchronizer; empty for the named-output sink). */
  private def compileTask(dep: String, t: TaskSpec,
      streams: Map[String, DataFrame]): Seq[DataFrame] = {
    val ins = t.inputs.map(streams)
    val key = s"$dep/${t.name}" // ≙ topic-space isolation per deployment
    Seq(t.op match {
      case SynchronizerOp(metas) =>
        // The machine merges its topics into ONE released stream and
        // forwards value/text untouched — tag each input's text with
        // its topic index going in, split the merged output back into
        // the per-topic out streams, restore the text (NullTok stands
        // in for NULL so the tag survives a null payload).
        val tagged = ins.zipWithIndex.map { case (df, i) =>
          df.withColumn("text",
            concat(lit(s"$i|"), coalesce(col("text"), lit(NullTok))))
        }
        val merged = runMachine(key, new Synchronizer(metas.size), tagged)
        return metas.indices.map { i =>
          val rest = expr(s"substring(text, ${s"$i|".length + 1})")
          merged.filter(col("text").startsWith(s"$i|"))
            .withColumn("text",
              when(rest === NullTok, lit(null).cast(StringType))
                .otherwise(rest))
        }
      case NamedOutputOp(_, _) => return Nil
      case SourceOp(_) => ins.head
      case ReplayBufferOp(_) => runMachine(key, new ReplayBuffer, ins)
      case OutputContainerOp(cfgs, maxDesync) =>
        runMachine(key,
          new OutputContainerSync(cfgs.indices.map(i => i -> cfgs(i)).toMap,
            maxDesync), ins)
      case GateOp(failOpen) => runMachine(key, new Gate(failOpen), ins)
      case SrLatchOp => runMachine(key, new SrLatch, ins)
      case CalculatorOp(formula, vars, defaults) =>
        // parse ONCE here; the closure only walks the AST per message
        // (the vectorized Column path is CalcQueries — this is the
        // per-message machine path, mirroring the reference's
        // transformer eval over a pre-parsed tree, calculator.py:236)
        val ast = Calc.parse(formula)
        val m = new Calculator(
          vars.indices.map(i => i -> defaults.getOrElse(vars(i), 0.0)).toMap,
          { vs: Map[Int, Double] =>
            val env = vars.zipWithIndex.map { case (v, i) =>
              v -> vs.getOrElse(i, 0.0) }.toMap
            evalAst(ast, env)
          })
        runMachine(key, m, ins)
      case StringMatcherOp(p) =>
        // re.match anchors at the START (stringmatcher.py:43) — rlike
        // alone would match anywhere; rows without text are invalid
        // messages the reference skips (ValidationError -> pass), not
        // 0.0 matches
        stateless(ins.head.filter(col("text").isNotNull), col("ts"),
          when(col("text").rlike("\\A(?:" + p + ")"), 1.0).otherwise(0.0),
          lit(null).cast(StringType))
      case NumberToTextOp =>
        // DECIMAL(12,2) is the engine's text convention; a value past
        // its range casts to NULL (non-ANSI), which downstream text
        // machines treat as an invalid message — fall back to the
        // plain string form so no message silently vanishes
        stateless(ins.head, col("ts"), lit(null).cast(DoubleType),
          coalesce(col("value").cast(DecimalType(12, 2)).cast(StringType),
            col("value").cast(StringType)))
      case TimestampUpdaterOp(off) =>
        stateless(ins.head, col("ts") + lit(off), col("value"),
          col("text"))
      case SwitchOp(pairs) => runMachine(key, new Switch(pairs), ins)
      case MediaSwitchOp(pairs) => runMachine(key, new MediaSwitch(pairs), ins)
      case TextFormatterOp(template, vars) =>
        // SINGLE-PASS substitution (str.format_map, textformatter.py:
        // 62-75): the template is tokenized ONCE into literal segments
        // and var slots, so a substituted value containing another
        // placeholder is NOT re-substituted, and the output does not
        // depend on any var iteration order
        val idxOf = vars.zipWithIndex.toMap
        val tokens = {
          val ts = Vector.newBuilder[Either[String, Int]]
          var rest = template
          var done = false
          while (!done) {
            val hits = idxOf.flatMap { case (name, i) =>
              val at = rest.indexOf(s"{$name}")
              if (at >= 0) Some((at, name, i)) else None
            }
            if (hits.isEmpty) { ts += Left(rest); done = true }
            else {
              val (at, name, i) = hits.minBy(h => (h._1, h._2.length * -1))
              if (at > 0) ts += Left(rest.substring(0, at))
              ts += Right(i)
              rest = rest.substring(at + name.length + 2)
            }
          }
          ts.result()
        }
        runMachine(key, new TextFormatter(vars.size,
          { vs: Map[Int, String] =>
            tokens.iterator.map {
              case Left(litStr) => litStr
              case Right(i) => vs.getOrElse(i, "")
            }.mkString
          }), ins)
      case StringConcatenatorOp =>
        runMachine(key, new StringConcatenator, ins)
      case MessageDetectorOp(timeoutMs) =>
        // the detector's whole purpose is the 0-on-silence emission —
        // the streaming branch arms a processing-time timer for it
        // (batch emits it in the end-of-input tail)
        runMachine(key, new MessageDetector(timeoutMs), ins,
          timeoutMs = timeoutMs)
      case TimeBufferOp(sizeMs) => runMachine(key, new TimeBuffer(sizeMs), ins)
      case RepeaterOp => runMachine(key, new Repeater, ins)
      case t: TimeToTextOp =>
        stateless(ins.head, col("ts"), lit(null).cast(DoubleType),
          date_format(timestamp_millis(col("ts")), t.javaPattern))
      case ChatOp(sys, budget, reply) =>
        runMachine(key, new Chat(sys, budget, reply), ins)
      case AudioVolumeScalerOp(d, hasControl, lo, hi) =>
        if (hasControl) runMachine(key, new VolumeScaler(d, lo, hi), ins)
        else // scale_topic: None → fixed default scale, stateless
          stateless(ins.head, col("ts"),
            expr(s"cast(greatest($lo, least($hi, value * $d)) as long)")
              .cast(DoubleType),
            col("text"))
      case m: AudioVolumeMeterOp =>
        runMachine(key,
          new VolumeMeter(m.chunkSamples, m.rate, m.maxValue), ins)
      case AsrOp(dim) => runMachine(key, new AsrChunked(dim), ins)
      case TtsOp(spc) => runMachine(key, new TtsSynth(spc), ins)
      case SpeechEnhanceOp(thr) =>
        // per-sample noise gate: stateless, codegen-friendly
        stateless(ins.head, col("ts"),
          when(abs(col("value")) < thr, 0.0).otherwise(col("value")),
          col("text"))
      case AudioMixerOp(n) => runMachine(key, new AudioMixer(n), ins)
      case AudioEncoderOp(codec) => codec match {
        case "pcm_mulaw" =>
          // per-sample, stateless: stays in whole-stage codegen
          val f = udf((x: Double) =>
            graft.functions.Codec.MuLaw.encodeSample(x.toInt).toDouble)
          stateless(ins.head, col("ts"), f(col("value")), col("text"))
        case "adpcm_ima" => runMachine(key, new AdpcmEncoder, ins)
      }
      case AudioDecoderOp(codec) => codec match {
        case "pcm_mulaw" =>
          val f = udf((x: Double) =>
            graft.functions.Codec.MuLaw.decodeSample(x.toInt).toDouble)
          stateless(ins.head, col("ts"), f(col("value")), col("text"))
        case "adpcm_ima" => runMachine(key, new AdpcmDecoder, ins)
      }
      case AudioResamplerOp(inR, outR) =>
        runMachine(key, new Resampler(inR, outR), ins)
      case VideoReformatterOp =>
        val f = udf((h: String) => if (h == null) null
          else hexEnc(graft.functions.Codec.RgbaBgra.encode(hexDec(h))))
        stateless(ins.head, col("ts"), col("value"), f(col("text")))
      case VideoLayoutOp(inW, inH, pw, ph, top, left, ow, oh) =>
        val f = udf((h: String) => if (h == null) null
          else hexEnc(graft.functions.ImageKernel.layout(
            hexDec(h), inW, inH, pw, ph, top, left, ow, oh)))
        stateless(ins.head, col("ts"), col("value"), f(col("text")))
      case VideoActivityMeterOp => runMachine(key, new ActivityMeter, ins)
      case VideoMixerOp(n, alphaFront) =>
        runMachine(key, new VideoMixer(n, alphaFront), ins)
      case VideoEncoderOp(gop) => runMachine(key, new DeltaEncoder(gop), ins)
      case VideoDecoderOp => runMachine(key, new DeltaDecoder, ins)
      case TextRendererOp(w, h, x, y, rgb) =>
        val f = udf((t: String) => if (t == null) null
          else hexEnc(graft.functions.Renderer.renderDigits(
            t.filter(_.isDigit), w, h, x, y, rgb)))
        stateless(ins.head, col("ts"), lit(Double.NaN),
          f(col("text")))
      case ImageRendererOp(frameHex) =>
        stateless(ins.head, col("ts"), lit(Double.NaN),
          lit(frameHex))
    })
  }

  /** JVM-side evaluation of a pre-parsed calculator AST (the machine
    * path — one walk per message over a tree parsed once at compile
    * time; the vectorized Column path is CalcQueries). */
  private def evalAst(a: Calc.Ast, env: Map[String, Double]): Double = a match {
    case Calc.Num(v) => v
    case Calc.Vari(n) => Calc.constants.getOrElse(n, env(n))
    case Calc.Un("-", x) => -evalAst(x, env)
    case Calc.Un("+", x) => evalAst(x, env)
    case Calc.Un("!", x) => if (evalAst(x, env) > 0.5) 0.0 else 1.0
    case Calc.Un(o, _) => sys.error(s"unary $o")
    case Calc.Iff(c, t, f) =>
      if (evalAst(c, env) > 0.5) evalAst(t, env) else evalAst(f, env)
    case Calc.Bin(op, l, r) =>
      val (x, y) = (evalAst(l, env), evalAst(r, env))
      op match {
        case "+" => x + y
        case "-" => x - y
        case "*" => x * y
        case "/" => x / y
        case "%" => ((x % y) + y) % y
        case "**" => math.pow(x, y)
        case "&" => if (x > 0.5 && y > 0.5) 1.0 else 0.0
        case "|" => if (x > 0.5 || y > 0.5) 1.0 else 0.0
        case "^" => if ((x > 0.5) != (y > 0.5)) 1.0 else 0.0
        case ">" => if (x > y) 1.0 else 0.0
        case "<" => if (x < y) 1.0 else 0.0
        case ">=" => if (x >= y) 1.0 else 0.0
        case "<=" => if (x <= y) 1.0 else 0.0
        case "==" => if (x == y) 1.0 else 0.0
        case "!=" => if (x != y) 1.0 else 0.0
        case o => sys.error(s"binary $o")
      }
    case Calc.Call(fn, args) =>
      val as = args.map(evalAst(_, env))
      (fn, as) match {
        case ("sin", Seq(x)) => math.sin(x)
        case ("cos", Seq(x)) => math.cos(x)
        case ("tan", Seq(x)) => math.tan(x)
        case ("asin", Seq(x)) => math.asin(x)
        case ("acos", Seq(x)) => math.acos(x)
        case ("atan", Seq(x)) => math.atan(x)
        case ("atan2", Seq(y, x)) => math.atan2(y, x)
        case ("sinh", Seq(x)) => math.sinh(x)
        case ("cosh", Seq(x)) => math.cosh(x)
        case ("tanh", Seq(x)) => math.tanh(x)
        case ("asinh", Seq(x)) => math.log(x + math.sqrt(x * x + 1))
        case ("acosh", Seq(x)) => math.log(x + math.sqrt(x * x - 1))
        case ("atanh", Seq(x)) => 0.5 * math.log((1 + x) / (1 - x))
        case ("log", Seq(x)) => math.log(x)
        case ("log2", Seq(x)) => math.log(x) / math.log(2)
        case ("log10", Seq(x)) => math.log10(x)
        case ("exp", Seq(x)) => math.exp(x)
        case ("sqrt", Seq(x)) => math.sqrt(x)
        case ("floor", Seq(x)) => math.floor(x)
        case ("ceil", Seq(x)) => math.ceil(x)
        case ("round", Seq(x)) => math.rint(x) // banker's
        case ("abs", Seq(x)) => math.abs(x)
        case ("min", xs) => xs.min
        case ("max", xs) => xs.max
        case (f, _) => sys.error(s"function $f")
      }
  }
}

/** Per-task lifecycle status (task.py:80-88). */
sealed trait TaskStatus { def isActive: Boolean = false }
object TaskStatus {
  case object Scheduled extends TaskStatus { override def isActive = true }
  case object Running extends TaskStatus { override def isActive = true }
  case object Stopped extends TaskStatus
  case object Ended extends TaskStatus
  final case class Failed(error: String) extends TaskStatus
}

/** One status broadcast (task.py:294-303's TaskReport). */
final case class TaskReport(deployment: String, task: String,
    status: TaskStatus)

/** Running-deployment lifecycle over StreamingQueryManager — the
  * schedule/start/stop/status surface of task_web.py:267-315 with the
  * per-task reporting of task.py:227-235,294-303.
  *
  * Schedule vs start, mapped: `schedule` compiles and validates the
  * whole DAG and allocates the sink plans (the reference's topic-space
  * + task-instance allocation) without running anything — every task
  * reports `Scheduled`; `start` launches the sink queries — tasks
  * report `Running`. Because Catalyst fuses the task DAG into one plan
  * per sink, the per-task statuses of one deployment move together;
  * termination is differentiated per the reference: explicit `stop` →
  * `Stopped` (task.py:231), a source draining to completion → `Ended`
  * (:230), an exception → `Failed(error)` (:235). Reports are pushed
  * to registered listeners — the BroadcastingServer analogue. */
final class PipelineManager(spark: SparkSession,
    checkpointRoot: Option[String] = None) {
  import Pipeline._
  import org.apache.spark.sql.streaming.StreamingQuery

  private final case class Running(dep: Deployment,
      planned: Seq[(String, DataFrame)], queries: Seq[StreamingQuery],
      explicitStop: Boolean, terminal: Option[TaskStatus] = None)
  private var deployments = Map.empty[String, Running]
  // sink tables by name, kept for a restart from the checkpoint root
  private var tables = Map.empty[String, SinkTable]
  private var listeners = Seq.empty[TaskReport => Unit]

  /** Subscribe to status broadcasts (bc_server.broadcast analogue). */
  def onReport(cb: TaskReport => Unit): Unit = listeners :+= cb

  private def broadcastAll(dep: Deployment, st: TaskStatus): Unit =
    dep.tasks.foreach(t =>
      listeners.foreach(_(TaskReport(dep.name, t.name, st))))

  /** Validate + compile the DAG and allocate sink plans; nothing runs.
    * Fails here (not at start) on any wiring/type error, like the
    * reference's schedule call. */
  def schedule(dep: Deployment, sources: Map[String, DataFrame],
      sinks: Seq[String]): Unit = {
    // Terminal deployments stay observable in the map (task.py:227-235
    // keeps differentiated terminal statuses); only a live one blocks
    // re-scheduling under the same name.
    require(deployments.get(dep.name).forall(_.terminal.isDefined),
      s"deployment '${dep.name}' already scheduled")
    val streams = compile(dep, sources)
    deployments += dep.name ->
      Running(dep, sinks.map(s => s -> streams(s)), Nil, explicitStop = false)
    broadcastAll(dep, TaskStatus.Scheduled)
  }

  /** Launch every scheduled sink as a streaming query writing to the
    * in-memory table `<dep>_<stream>` (a [[SinkTable]]). With a
    * [[checkpointRoot]], each sink checkpoints under
    * `<root>/<deployment>/<stream>` — the topic-space isolation of the
    * reference's per-deployment topic allocation
    * (task_web.py:267-315): two deployments may reuse the same
    * task/stream names and share NOTHING — not state, not offsets, not
    * sink tables. A deployment stopped and re-scheduled under the same
    * name resumes from those checkpoints, state included, and its
    * sinks keep appending to the tables of the earlier run. */
  def start(name: String): Unit = {
    val r = deployments(name)
    require(r.terminal.isEmpty,
      s"deployment '$name' already terminated (${r.terminal.get}) — " +
        "re-schedule it to run again")
    require(r.queries.isEmpty, s"deployment '$name' already started")
    val qs = scala.collection.mutable.ArrayBuffer.empty[StreamingQuery]
    try r.planned.foreach { case (s, df) =>
      val table = s"${name}_$s"
      val ckpt = s"${checkpointRoot.getOrElse(tempRoot)}/$name/$s"
      val sink = tables.get(table).filter(_ => resumes(ckpt))
        .getOrElse(new SinkTable(table, df.schema))
      val w = df.writeStream
        .format(classOf[SinkTableProvider].getName)
        .queryName(table)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
      SinkTable.lend(sink) { opts =>
        qs += w.options(opts).start()
        spark.read.format(classOf[SinkTableProvider].getName).options(opts)
          .load().createOrReplaceTempView(table)
      }
      if (checkpointRoot.isDefined) tables += table -> sink
    } catch {
      // all sinks or none: a half-started deployment would keep its
      // first sinks running untracked, holding their query names
      case e: Throwable =>
        qs.foreach(q => try q.stop() catch { case _: Throwable => () })
        dropTempCheckpoints(name)
        throw e
    }
    deployments += name -> r.copy(queries = qs.toSeq)
    broadcastAll(r.dep, TaskStatus.Running)
  }

  /** Checkpoint root of the deployments started without a
    * [[checkpointRoot]]: each one's checkpoints go when it stops, the
    * rest when the JVM exits. */
  private lazy val tempRoot: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-deployments")
    sys.addShutdownHook(
      org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile))
    dir.toString
  }

  private def dropTempCheckpoints(name: String): Unit =
    if (checkpointRoot.isEmpty)
      org.apache.commons.io.FileUtils.deleteQuietly(
        new java.io.File(tempRoot, name))

  /** Whether the sink checkpointing at `ckpt` has run before. */
  private def resumes(ckpt: String): Boolean = {
    val offsets = new org.apache.hadoop.fs.Path(ckpt, "offsets")
    offsets.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .exists(offsets)
  }

  /** schedule + start in one call. */
  def start(dep: Deployment, sources: Map[String, DataFrame],
      sinks: Seq[String]): Unit = {
    schedule(dep, sources, sinks)
    start(dep.name)
  }

  /** Status of one deployment's tasks (uniform per deployment — one
    * fused plan per sink — but reported per task like the reference). */
  def taskStatus(name: String): Map[String, TaskStatus] =
    deployments.get(name) match {
      case None => Map.empty
      case Some(r) =>
        val st: TaskStatus = r.terminal.getOrElse {
          if (r.queries.isEmpty) TaskStatus.Scheduled
          else r.queries.flatMap(_.exception).headOption match {
            case Some(e) => TaskStatus.Failed(e.getMessage)
            case None if r.queries.forall(_.isActive) => TaskStatus.Running
            case None if r.explicitStop => TaskStatus.Stopped
            case None => TaskStatus.Ended
          }
        }
        r.dep.tasks.map(_.name -> st).toMap
    }

  /** Deployment-coarse status string (round-1 surface, kept). */
  def status(name: String): String =
    deployments.get(name) match {
      case None => "stopped"
      case Some(r) if r.terminal.isDefined =>
        r.terminal.get match {
          case TaskStatus.Failed(_) => "failed"
          case _ => "stopped" // Stopped and Ended are both terminal
        }
      case Some(r) if r.queries.isEmpty => "scheduled"
      case Some(r) if r.queries.exists(_.exception.isDefined) => "failed"
      case Some(r) if r.queries.forall(_.isActive) => "running"
      case _ => "stopped"
    }

  /** Stop a deployment, broadcasting its TRUE terminal status: a query
    * that already failed reports Failed, one whose source drained
    * reports Ended, and only an interrupted live run reports Stopped
    * (task.py:227-235's differentiated terminals). The deployment is
    * retained so post-stop taskStatus still reflects that terminal. */
  def stop(name: String): Unit = {
    deployments.get(name).filter(_.terminal.isEmpty).foreach { r =>
      // a second stop must NOT recompute the terminal from now-inactive
      // queries (it would overwrite Stopped with Ended and re-broadcast)
      val terminal: TaskStatus =
        if (r.queries.isEmpty) TaskStatus.Stopped
        else r.queries.flatMap(_.exception).headOption match {
          case Some(e) => TaskStatus.Failed(e.getMessage)
          case None if r.queries.forall(_.isActive) => TaskStatus.Stopped
          case None => TaskStatus.Ended
        }
      r.queries.foreach(_.stop())
      dropTempCheckpoints(name)
      deployments += name ->
        r.copy(explicitStop = true, terminal = Some(terminal))
      broadcastAll(r.dep, terminal)
    }
  }
}
