package graft.streaming

import java.nio.ByteBuffer
import org.apache.spark.{SparkConf, SparkEnv}
import org.apache.spark.serializer.{KryoSerializer, SerializerInstance}
import org.apache.spark.sql.Encoder
import org.apache.spark.sql.catalyst.encoders.AgnosticEncoders._
import org.apache.spark.sql.catalyst.encoders.Codec
import scala.reflect.{ClassTag, classTag}

/** The state codec of every keyed-machine mount: Kryo's bytes for a
  * value under the session's `spark.kryo.*` conf, exactly what Spark's
  * Kryo `Encoder[T]` writes, and [[encoder]] has that encoder's schema,
  * so state it wrote reads back here. One `KryoSerializer` serves the
  * JVM and its pool lends each thread a ready Kryo; the Kryo encoder's
  * generated code built a serializer for every state task instead. */
object StateCodec extends Codec[Any, Array[Byte]] {
  private lazy val kryo = new KryoSerializer(
    Option(SparkEnv.get).map(_.conf).getOrElse(new SparkConf()))
  // an instance owns its in/out buffers, so each thread keeps one
  private val perThread =
    ThreadLocal.withInitial[SerializerInstance](() => kryo.newInstance())

  def encode(v: Any): Array[Byte] = perThread.get.serialize[Any](v).array()
  def decode(b: Array[Byte]): Any = perThread.get.deserialize[Any](ByteBuffer.wrap(b))

  /** A state encoder storing `T` as one binary column of these bytes. */
  def encoder[T: ClassTag]: Encoder[T] =
    TransformingEncoder[T, Array[Byte]](classTag[T], BinaryEncoder, () => this)
}
