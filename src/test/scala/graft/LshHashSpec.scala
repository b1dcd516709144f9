package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.DedupQueries.{mulMod61, LshA, LshB, LshP}

/** Pins the exact Long-limb universal hash [[DedupQueries.mulMod61]]
  * (round-15 optimization: replaced the DECIMAL(38,0) formulation in
  * the minhash hot path) against the arbitrary-precision BigInt model
  * — the same value the DuckDB oracles compute in HUGEINT. Any
  * deviation anywhere in the 56-bit input domain would silently move
  * every LSH bucket, so the domain edges and the registry's actual
  * (A_j, B_j) constants are all pinned.
  */
class LshHashSpec extends AnyFunSuite with SparkFixture {

  private def model(h: Long, a: Long, b: Long): Long =
    ((BigInt(h) * a + b) mod BigInt(LshP)).toLong

  private def sparkEval(hs: Seq[Long], a: Long, b: Long): Seq[Long] = {
    import spark.implicits._
    hs.toDF("h").select(mulMod61(col("h"), a, b).as("v"))
      .as[Long].collect().toSeq
  }

  test("mulMod61 equals the BigInt model on domain edges, every seed") {
    val edges = Seq(0L, 1L, 2L, (1L << 28) - 1, 1L << 28, (1L << 28) + 1,
      (1L << 56) - 1, (1L << 55) + 12345L, 0xFFFFFFFL, 0x10000000L)
    LshA.indices.foreach { j =>
      val got = sparkEval(edges, LshA(j), LshB(j))
      edges.zip(got).foreach { case (h, v) =>
        assert(v == model(h, LshA(j), LshB(j)), s"seed $j h=$h")
      }
    }
  }

  test("mulMod61 equals the BigInt model on random 56-bit inputs") {
    val rnd = new scala.util.Random(421L)
    val hs = Seq.fill(2000)(rnd.nextLong() & ((1L << 56) - 1))
    LshA.indices.foreach { j =>
      val got = sparkEval(hs, LshA(j), LshB(j))
      hs.zip(got).foreach { case (h, v) =>
        assert(v == model(h, LshA(j), LshB(j)), s"seed $j h=$h")
      }
    }
  }

  test("mulMod61 matches the retired DECIMAL(38,0) expression") {
    import org.apache.spark.sql.types.{DecimalType, LongType}
    import spark.implicits._
    val rnd = new scala.util.Random(7L)
    val hs = Seq.fill(500)(rnd.nextLong() & ((1L << 56) - 1))
    val dec = DecimalType(38, 0)
    LshA.indices.foreach { j =>
      val both = hs.toDF("h").select(
        mulMod61(col("h"), LshA(j), LshB(j)).as("fast"),
        ((col("h").cast(dec) * LshA(j) + LshB(j)) % LshP)
          .cast(LongType).as("slow"))
        .as[(Long, Long)].collect()
      both.foreach { case (f, s) => assert(f == s, s"seed $j") }
    }
  }
}
