package graft

import graft.operators.Sampling
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Deterministic hash-gate sampling / split assignment. */
class SamplingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val ids = spark.range(0, 10000).toDF("id")

  test("sample is deterministic, rate-accurate, and a subset relation across rates") {
    val a = Sampling.sample(ids, "id", 0.3).collect().map(_.getLong(0)).toSet
    val b = Sampling.sample(ids, "id", 0.3).collect().map(_.getLong(0)).toSet
    assert(a == b) // re-execution cannot change membership (not rand())
    assert(math.abs(a.size - 3000) < 200, s"rate off: ${a.size}")
    // nested gates: a lower rate is a SUBSET of a higher rate (same salt) —
    // the property that lets a pipeline grow a sample without resampling
    val small = Sampling.sample(ids, "id", 0.1).collect().map(_.getLong(0)).toSet
    assert(small.subsetOf(a))
    // a different salt draws an (essentially) independent sample
    val other = Sampling.sample(ids, "id", 0.3, salt = 1234L).collect().map(_.getLong(0)).toSet
    assert(other != a)
  }

  test("assignSplit partitions exactly, deterministically, at the requested fractions") {
    val splits = Sampling.assignSplit(ids, "id", Seq(("train", 0.8), ("val", 0.1), ("test", 0.1)))
    val counts = splits.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.values.sum == 10000) // total partition, nothing dropped
    assert(counts.keySet == Set("train", "val", "test"))
    assert(math.abs(counts("train") - 8000) < 200, counts.toString)
    assert(math.abs(counts("val") - 1000) < 120, counts.toString)
    // each id lands in exactly one split and the assignment is stable
    val again = Sampling.assignSplit(ids, "id", Seq(("train", 0.8), ("val", 0.1), ("test", 0.1)))
    assert(splits.select("id", "split").exceptAll(again.select("id", "split")).count() == 0)
  }

  test("ANSI-safe for any Long id (reduce mod M before multiplying)") {
    val big = Seq(Long.MaxValue, Long.MaxValue - 1, 1L << 62, 0L).toDF("id")
    // must not overflow under ANSI; gate stays in [0, Mod)
    val gates = big.select(Sampling.gate($"id")).collect().map(_.getLong(0))
    assert(gates.forall(g => g >= 0 && g < Sampling.Mod))
  }
}
