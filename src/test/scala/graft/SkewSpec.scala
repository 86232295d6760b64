package graft

import graft.operators.Skew

class SkewSpec extends SparkSpec {
  import spark.implicits._

  test("saltedJoin equals the plain join on heavily skewed keys") {
    // 90% of the big side lands on one key
    val big = (1 to 2000).map(i =>
      (if (i % 10 == 0) s"k$i" else "HOT", i)).toDF("key", "payload")
    val small = Seq(("HOT", "hot_dim"), ("k10", "d10"), ("k20", "d20"))
      .toDF("key", "dim")
    val plain = big.join(small, Seq("key"))
      .select("key", "payload", "dim").as[(String, Int, String)]
      .collect().sorted.toSeq
    val salted = Skew.saltedJoin(big, small, "key", 8)
      .select("key", "payload", "dim").as[(String, Int, String)]
      .collect().sorted.toSeq
    assert(salted == plain)
  }

  test("salt is deterministic across evaluations (shuffle-replay safety)") {
    val big = (1 to 100).map(i => ("HOT", i)).toDF("key", "payload")
    val small = Seq(("HOT", "d")).toDF("key", "dim")
    val a = Skew.saltedJoin(big, small, "key", 4).count()
    val b = Skew.saltedJoin(big, small, "key", 4).count()
    assert(a == 100 && b == 100)
  }
}
