package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Streaming near-duplicate detection — the online form of the batch
  * MinHash+LSH dedup (operators/DedupQueries d02): documents arrive on
  * a stream, each is banded into LSH buckets with the same derived
  * universal-hash family, and a per-(band, bucket) state cell remembers
  * the first document that claimed the bucket. Later documents landing
  * in a claimed bucket emit (doc_id, dup_of) candidates — across
  * micro-batches, because the bucket owner lives in the state store.
  *
  * The signature is computed per row (array lambdas over the doc's own
  * shingles — md5 materialized once per shingle, then 8 cheap integer
  * transforms), NOT by explode + groupBy: a streaming aggregation
  * cannot precede flatMapGroupsWithState, and per-row banding means
  * the only shuffle in the whole pipeline is the bucket keying.
  *
  * Scale: state is one (band, bucket) → first-doc entry, bounded by
  * corpus novelty, spread across executors by bucket key, RocksDB-
  * capable; a watermark-ttl variant would age buckets out for
  * unbounded streams. Candidates are per-band; exact-verify downstream
  * (the d06 shape) as needed.
  */
object StreamingDedup {

  final case class BandHit(band: Int, bucket: String, docId: Long)
  final case class DupCand(docId: Long, dupOf: Long, band: Int)

  implicit val bandEnc: Encoder[BandHit] = Encoders.product[BandHit]
  implicit val dupEnc: Encoder[DupCand] = Encoders.product[DupCand]
  implicit val keyEnc: Encoder[(Int, String)] =
    Encoders.tuple(Encoders.scalaInt, Encoders.STRING)
  implicit val ownerEnc: Encoder[Long] = Encoders.scalaLong

  private val nHashes = 8
  private val nBands = 2

  /** Band rows for a (doc_id, text) frame — batch or streaming (pure
    * per-row expressions). Same minhash family as d02 — the shared
    * (A_j·h + B_j) mod P universal constants of
    * [[graft.operators.DedupQueries.LshA]], evaluated by the same
    * exact Long-limb [[graft.operators.DedupQueries.mulMod61]] (the
    * 117-bit product wraps the modulus exactly) — over md5-derived
    * 56-bit shingle hashes; a band's bucket = md5 of its 4 signature
    * values. */
  def bandRows(docs: DataFrame): DataFrame = {
    import graft.operators.DedupQueries.{LshA, LshB, mulMod61}
    val t = split(trim(col("text")), "\\s+")
    val sh = array_distinct(transform(sequence(lit(0), size(t) - lit(3)),
      i => array_join(slice(t, i + lit(1), lit(3)), " ")))
    val hashes = transform(sh,
      s => conv(substring(md5(s.cast(BinaryType)), 1, 14), 16, 10)
        .cast(LongType))
    val perBand = (0 until nBands).map { b =>
      val sig = (b * (nHashes / nBands) until (b + 1) * (nHashes / nBands))
        .map { seed =>
          array_min(transform(col("hashes"),
            h => mulMod61(h, LshA(seed), LshB(seed))))
        }
      struct(lit(b).as("band"),
        md5(concat_ws(",", sig: _*).cast(BinaryType)).as("bucket"))
    }
    docs.filter(size(t) >= 3)
      .withColumn("hashes", hashes)
      .select(col("doc_id"), explode(array(perBand: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"),
        col("bb.bucket").as("bucket"))
  }

  /** Mount on a streaming (doc_id, text) frame: emits duplicate
    * candidates, keeping bucket owners in the state store across
    * micro-batches. */
  def nearDupStream(docs: DataFrame): Dataset[DupCand] = {
    bandRows(docs)
      .select(col("band"), col("bucket"), col("doc_id").as("docId"))
      .groupBy(col("band"), col("bucket")).as[(Int, String), BandHit]
      .flatMapGroupsWithState[Long, DupCand](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: (Int, String), hits: Iterator[BandHit], gs: GroupState[Long]) =>
          val sorted = hits.map(_.docId).toVector.sorted
          val owner = gs.getOption.getOrElse(sorted.head)
          gs.update(owner)
          sorted.filter(_ != owner)
            .map(d => DupCand(d, owner, key._1)).iterator
      }
  }
}
