package graft

import org.apache.spark.sql.functions._
import graft.operators.{Quality, Relational}

class RelationalSpec extends SparkSpec {
  import spark.implicits._

  test("project keeps order and subset (O9)") {
    val df = Seq((1, "a", true)).toDF("x", "y", "z")
    assert(Relational.project(Seq("z", "x"))(df).columns.toSeq == Seq("z", "x"))
  }

  test("dropNullsAny drops null rows but keeps empty strings (O10, §7.4.2)") {
    val df = Seq(("a", "b"), (null, "c"), ("", "d")).toDF("u", "v")
    val out = Relational.dropNullsAny(df).collect().map(_.getString(0)).toSet
    assert(out == Set("a", ""))
  }

  test("dropNulls on subset ignores nulls elsewhere (O11)") {
    val df = Seq(("a", null: String, "x"), (null, "b", "y"))
      .toDF("email", "nps", "other")
    val out = Relational.dropNulls(Seq("email"))(df).collect()
    assert(out.map(_.getString(2)).toSeq == Seq("x"))
  }

  test("renameAll renames en masse (O12)") {
    val df = Seq((1, 2)).toDF("a", "b")
    val out = Relational.renameAll(Map("a" -> "x", "b" -> "y"))(df)
    assert(out.columns.toSeq == Seq("x", "y"))
  }

  test("auditStamp applies one literal to all rows (O13)") {
    val df = Seq(1, 2).toDF("i")
    val out = Relational.auditStamp("updated_ts", lit("2026-01-01 00:00:00"))(df)
    assert(out.select("updated_ts").distinct().count() == 1)
  }

  test("regexStripCast handles fixed prefix and alternation (O14/O15)") {
    val df = Seq("A4", "N10", "A10").toDF("v")
    val fixed = Relational.regexStripCast("v", "A")(df.filter(col("v") =!= "N10"))
    assert(fixed.as[Double].collect().toSet == Set(4.0, 10.0))
    val alt = Relational.regexStripCast("v", "A|N")(df)
    assert(alt.as[Double].collect().toSet == Set(4.0, 10.0))
  }

  test("membership filters before cast (O16)") {
    val df = Seq("A1", "free text", "A5").toDF("grade")
    val out = Relational.membership("grade", Seq("A1", "A2", "A3", "A4", "A5"))(df)
    assert(out.count() == 2)
  }

  test("keepLast keeps max order key per group, ties to ingest pos (O18+O19)") {
    val df = Seq(
      ("o1", "2018-01-01", 0L), ("o1", "2018-01-03", 1L),
      ("o2", "2018-01-02", 2L), ("o2", "2018-01-02", 3L) // tie on date
    ).toDF("order_number", "date_sent", "_ingest_pos")
    val out = Relational.keepLast(Seq("order_number"),
      Seq(col("date_sent").desc, col("_ingest_pos").desc))(df)
      .select("order_number", "_ingest_pos").as[(String, Long)]
      .collect().toMap
    assert(out == Map("o1" -> 1L, "o2" -> 3L)) // pandas keep-last parity
  }

  test("topK returns exactly k under total order (O18+O5)") {
    val df = (1 to 100).toDF("n")
    val out = Relational.topK(3, Seq(col("n").desc))(df).as[Int].collect()
    assert(out.toSeq == Seq(100, 99, 98))
  }

  test("mergeUpsert: update wins by version, insert lands, untouched rows carry") {
    val target = Seq(
      (1L, "old-1", 10.0),
      (2L, "old-2", 20.0),
      (3L, "old-3", 30.0)
    ).toDF("k", "s", "v")
    val source = Seq(
      (2L, "new-2a", 21.0, 1L),  // two versions for key 2 -> v2 wins
      (2L, "new-2b", 22.0, 2L),
      (4L, "ins-4", 40.0, 1L)    // unmatched -> insert
    ).toDF("k", "s", "v", "ver")
    val out = Relational.mergeUpsert(target, source, Seq("k"), col("ver"))
      .as[(Long, String, Double)].collect().toSet
    assert(out == Set(
      (1L, "old-1", 10.0),
      (2L, "new-2b", 22.0),
      (3L, "old-3", 30.0),
      (4L, "ins-4", 40.0)))
    // two source rows on ONE (key, version): the merge would be
    // nondeterministic (the sf1-rehearsal divergence, round 13) — the
    // operator must raise the Delta-MERGE contract error, not let
    // keep-last pick a winner
    val tied = source.union(
      Seq((2L, "new-2c", 23.0, 2L)).toDF("k", "s", "v", "ver"))
    val e = intercept[Exception] {
      Relational.mergeUpsert(target, tied, Seq("k"), col("ver")).collect()
    }
    assert(e.getMessage.contains("mergeUpsert"), e.getMessage)
    // two TARGET rows of one key tie on (priority, version): keep-last's
    // tie error, not an arbitrary survivor
    val dupTarget = target.union(Seq((3L, "old-3b", 31.0)).toDF("k", "s", "v"))
    val e2 = intercept[Exception] {
      Relational.mergeUpsert(dupTarget, source, Seq("k"), col("ver")).collect()
    }
    assert(e2.getMessage.contains(graft.functions.KeepLast.TieMessage), e2.getMessage)
  }

  test("mergePartialAggs == aggregate of the union, for sum/min/max algebra") {
    val rows = Seq(
      ("a", 1L, 5.0), ("a", 2L, 3.0), ("b", 3L, 9.0),
      ("a", 4L, 7.0), ("b", 5L, 1.0), ("c", 6L, 2.0))
    def agg(part: Seq[(String, Long, Double)]) =
      part.toDF("k", "id", "v").groupBy("k").agg(
        count(lit(1)).as("cnt"), sum(col("v")).as("s"),
        min(col("v")).as("mn"), max(col("v")).as("mx"))
    val (p1, p2) = rows.splitAt(3)
    val merged = Relational.mergePartialAggs(Seq(agg(p1), agg(p2)),
      Seq("k"), sumCols = Seq("cnt", "s"),
      minCols = Seq("mn"), maxCols = Seq("mx"))
      .as[(String, Long, Double, Double, Double)].collect().toSet
    val full = agg(rows)
      .as[(String, Long, Double, Double, Double)].collect().toSet
    assert(merged == full)
  }

  test("expectations counts violations per rule in one pass; null fails the rule") {
    val df = Seq(
      (1L, Some(10.0)), (2L, Some(-1.0)), (3L, None), (4L, Some(5.0))
    ).toDF("id", "v")
    val out = Quality.expectations(df, Seq(
      "v_nonneg" -> (col("v") >= 0.0),
      "id_low" -> (col("id") <= 2L)))
      .as[(String, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // -1 violates; the NULL cannot prove the expectation -> violation
    assert(out("v_nonneg") == ((2L, 4L, 0.5)))
    assert(out("id_low") == ((2L, 4L, 0.5)))
  }

  test("expectations runs as one aggregate: a single plan, no per-rule scans") {
    val df = (1 to 100).toDF("n")
    val plan = Quality.expectations(df, Seq(
      "a" -> (col("n") > 0), "b" -> (col("n") < 50), "c" -> (col("n") =!= 7)))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join") && !plan.contains("Union"), plan.take(800))
  }

  test("datasheet: cross-slice dup exposure, null text, language spread") {
    val df = Seq(
      (1L, "s1", "en", "a b c"),       // dup of doc 4 in the OTHER slice
      (2L, "s1", "de", "x y"),
      (3L, "s1", "en", null.asInstanceOf[String]),
      (4L, "s2", "en", "a b c"),       // dup partner
      (5L, "s2", "en", "unique text here"))
      .toDF("doc_id", "source", "lang", "text")
    val out = Quality.datasheet(df, "source", "doc_id", col("text"),
        col("lang"))
      .as[(String, Long, Long, Long, Long, Long, Long, Long, Long)]
      .collect().map(r => r._1 -> r).toMap
    // s1: 3 docs, 3+2+0 tokens, 1 dup (doc 1), 2 langs, 1 null text,
    // 5+3 chars
    assert(out("s1") == (("s1", 3L, 5L, 1666666L, 1L, 333333L, 2L, 1L,
      8L)))
    // s2: 2 docs, 3+3 tokens, 1 dup (doc 4 — cross-slice identity), 1
    // lang, 0 null
    assert(out("s2") == (("s2", 2L, 6L, 3000000L, 1L, 500000L, 1L, 0L,
      21L)))
  }

  test("orphanCount finds fact keys missing from the dim") {
    val fact = Seq(1L, 2L, 2L, 9L, 10L).toDF("fk")
    val dim = Seq(1L, 2L, 3L).toDF("dk")
    assert(Quality.orphanCount(fact, "fk", dim, "dk")
      .as[Long].head() == 2L) // 9 and 10; the duplicated key 2 is covered
  }

  test("snapshotDiff types I/U/D, drops unchanged, and is null-safe on values") {
    val old = Seq(
      (1L, Some("a")), (2L, Some("b")), (3L, Option.empty[String]), (4L, Some("d"))
    ).toDF("k", "v")
    val neu = Seq(
      (1L, Some("a")),  // unchanged -> dropped
      (2L, Option.empty[String]),  // value -> null: U (null-safe compare)
      (3L, Some("c")),  // null -> value: U
      (5L, Some("e"))   // new key: I; key 4 gone: D
    ).toDF("k", "v")
    val out = Relational.snapshotDiff(old, neu, Seq("k"))
      .select(col("k"), col("change_type"))
      .as[(Long, String)].collect().toMap
    assert(out == Map(2L -> "U", 3L -> "U", 4L -> "D", 5L -> "I"))
    // a duplicated key inside one side is NOT a snapshot: the operator
    // must raise (round 13 - the struct-max would otherwise silently
    // pick a winner while a join-based consumer multiplies)
    val dup = neu.union(Seq((5L, Some("e2"))).toDF("k", "v"))
    val e = intercept[Exception] {
      Relational.snapshotDiff(old, dup, Seq("k")).collect()
    }
    assert(e.getMessage.contains("snapshotDiff"), e.getMessage)
  }

  test("checksum is order-independent and localizes a change to one bucket") {
    val rows = (1 to 200).map(i => (i.toLong, s"payload-$i"))
    def digest(data: Seq[(Long, String)]) =
      Quality.checksum(data.toDF("id", "payload"),
        pmod(col("id"), lit(8)), graft.functions.Hashing.hexLong(
          concat_ws("|", col("id"), col("payload"))))
        .as[(Long, Long, Long)].collect()
        .map { case (b, n, x) => b -> ((n, x)) }.toMap
    val a = digest(rows)
    val b = digest(scala.util.Random.shuffle(rows))
    assert(a == b, "xor digest must not depend on row order")
    val mutated = digest(rows.map { case (i, p) =>
      if (i == 42L) (i, "tampered") else (i, p) })
    val diff = a.keySet.filter(k => a(k) != mutated(k))
    assert(diff == Set(42L % 8), "exactly the tampered row's bucket differs")
  }

  test("melt emits one (metric, value) row per measure; pivot recovers the wide form") {
    val wide = Seq((1L, 10.0, 0.5), (2L, 20.0, 0.7)).toDF("id", "qty", "disc")
    val long = Relational.melt(wide, Seq("id"), Seq("qty", "disc"))
    assert(long.columns.toSeq == Seq("id", "metric", "value"))
    assert(long.count() == 4)
    val back = long.groupBy("id").pivot("metric", Seq("qty", "disc"))
      .agg(first(col("value")))
      .as[(Long, Double, Double)].collect().toSet
    assert(back == Set((1L, 10.0, 0.5), (2L, 20.0, 0.7)))
  }

  test("fuzzySelfJoin matches within blocks only, bounded by edit distance") {
    val df = Seq(
      (1L, "red widget", "B1"),
      (2L, "red widgit", "B1"),   // dist 1, same block -> pair
      (3L, "red widget", "B2"),   // identical text, OTHER block -> no pair
      (4L, "blue cog", "B1"),     // dist > 2 from the widgets
      (5L, "red widgets!", "B1")  // len diff 2, dist 2 -> pair with 1
    ).toDF("k", "name", "brand")
    val out = Relational.fuzzySelfJoin(df, "k", "name", Seq("brand"), 2)
      .as[(Long, Long, Long)].collect().toSet
    // (2,5) is distance 3 (sub i->e, insert s, insert !) -> excluded
    assert(out == Set((1L, 2L, 1L), (1L, 5L, 2L)), out.toString)
  }

  test("fuzzySelfJoin plans a hash equi-join on the block key, not a nested loop") {
    val df = (1 to 100).map(i => (i.toLong, s"name-$i", s"b${i % 5}"))
      .toDF("k", "name", "brand")
    val plan = Relational.fuzzySelfJoin(df, "k", "name", Seq("brand"), 2)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"), plan.take(1000))
  }

  test("applyChanges(old, snapshotDiff(old, new)) reconstructs new exactly") {
    // pseudo-random but deterministic snapshots exercising all paths:
    // stable keys, value churn, deletions, insertions
    def h(i: Long, salt: Long) = (i * 2654435761L + salt) % 97
    val old = (1L to 300L).map(i => (i, s"v${h(i, 1)}", h(i, 2).toDouble))
      .toDF("k", "s", "x")
    val neu = (1L to 360L)
      .filter(i => h(i, 3) % 5 != 0)                   // ~20% deleted/absent
      .map(i => (i, s"v${h(i, if (h(i, 4) % 3 == 0) 5 else 1)}", // ~33% churn
        h(i, 2).toDouble))
      .toDF("k", "s", "x")
    val diff = Relational.snapshotDiff(old, neu, Seq("k"))
    val rebuilt = Relational.applyChanges(old, diff, Seq("k"))
      .as[(Long, String, Double)].collect().toSet
    assert(rebuilt == neu.as[(Long, String, Double)].collect().toSet)
    // and the diff is genuinely mixed
    val types = diff.select("change_type").as[String].collect().toSet
    assert(types == Set("I", "U", "D"), types.toString)
  }

  test("mergeUpsert plans one exchange and no join") {
    val target = Seq((1L, "a")).toDF("k", "s")
    val source = Seq((1L, "b", 1L)).toDF("k", "s", "ver")
    val plan = Relational.mergeUpsert(target, source, Seq("k"), col("ver"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), "merge must be union+aggregate, not a join")
    // one exchange for the merge itself + one for the source-side
    // (key, version)-uniqueness guard aggregate (round 13)
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 2)
  }

  test("quotaCap: at most quota per group, smallest-hash picks, no window") {
    val df = ((1L to 50L).map(i => ("g0", i)) ++
      (100L to 102L).map(i => ("g1", i)) :+ (("g2", 200L)))
      .toDF("g", "k")
    val out = Relational.quotaCap(df, Seq("g"), col("k"), quota = 3)
    val byG = out.as[(String, Long, Long)].collect().groupBy(_._1)
    assert(byG("g0").length == 3 && byG("g1").length == 3 &&
      byG("g2").length == 1)
    // survivors are exactly the quota smallest 40-bit hashes, ranked in
    // hash order — the deterministic, engine-portable pick
    def h40(k: Long): Long =
      graft.functions.Hashing.hexLongJvm(k.toString) % 1099511627776L
    val expect = (1L to 50L).sortBy(k => (h40(k), k)).take(3)
    assert(byG("g0").sortBy(_._3).map(_._2).toSeq == expect)
    // re-running yields the identical pick (pure function of the data)
    val again = Relational.quotaCap(df, Seq("g"), col("k"), quota = 3)
      .as[(String, Long, Long)].collect().toSet
    assert(again == out.as[(String, Long, Long)].collect().toSet)
    assert(!out.queryExecution.executedPlan.toString.contains("Window"))
  }

  test("rollup levels: children sum to parents, grouping_id separates rolled NULLs") {
    // the q113 shape on a fixture with a DATA NULL region name — the
    // grouping_id bit is what keeps it distinct from the rolled-up rows
    val df = Seq(
      (Some("EU"), "DE", 10L), (Some("EU"), "FR", 20L),
      (Some("AS"), "JP", 5L), (None, "??", 2L)
    ).toDF("r", "n", "v")
    val out = df.rollup(col("r"), col("n"))
      .agg(grouping_id().as("level"), sum(col("v")).as("s"))
      .as[(Option[String], Option[String], Long, Long)].collect()
    val byKey = out.map(r => (r._1, r._2, r._3) -> r._4).toMap
    assert(byKey((Some("EU"), None, 1L)) == 30L)      // region subtotal
    assert(byKey((None, None, 3L)) == 37L)            // grand total
    assert(byKey((None, Some("??"), 0L)) == 2L)       // data NULL, level 0
    assert(byKey((None, None, 1L)) == 2L)             // data-NULL subtotal
    assert(out.length == 4 + 3 + 1)
  }

  test("chunkTokens: strided windows cover all tokens; overlap = width - stride") {
    import graft.operators.TextAnalysis
    val docs = Seq((1L, (0 until 10).map(i => s"t$i").mkString(" ")),
      (2L, ""), (3L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val out = TextAnalysis.chunkTokens(docs, "doc_id", col("text"),
        width = 6, stride = 4)
      .as[(Long, Long, Long, Long, String)].collect()
    val d1 = out.filter(_._1 == 1L).sortBy(_._2)
    assert(d1.map(c => (c._2, c._3, c._4)).toSeq ==
      Seq((0L, 0L, 6L), (1L, 4L, 6L), (2L, 8L, 2L)))
    assert(d1(0)._5 == "t0 t1 t2 t3 t4 t5")
    assert(d1(1)._5 == "t4 t5 t6 t7 t8 t9") // 2-token overlap with chunk 0
    assert(d1(2)._5 == "t8 t9")             // short tail chunk
    // empty text is one empty token (string_split semantics both
    // engines); NULL text chunks to nothing
    assert(out.count(_._1 == 2L) == 1 && out.find(_._1 == 2L).get._5 == "")
    assert(!out.exists(_._1 == 3L))
  }

  test("scd2History: run collapse, null-safe compare, [start, next-start) tiling") {
    import graft.operators.Relational
    def t(day: Int) = java.sql.Timestamp.valueOf(f"2024-01-$day%02d 00:00:00")
    val log = Seq(
      (1L, t(1), 101L, "O"), (1L, t(2), 102L, "O"), // run of 2
      (1L, t(3), 103L, "F"),                        // change
      (1L, t(4), 104L, "O"),                        // back: NEW version
      (2L, t(1), 201L, null.asInstanceOf[String]),  // null-first key
      (2L, t(2), 202L, null.asInstanceOf[String]),  // null run continues
      (2L, t(3), 203L, "X"))
      .toDF("k", "ts", "id", "status")
    val out = Relational.scd2History(log, "k", "ts", "id", col("status"))
      .as[(Long, Long, String, java.sql.Timestamp, java.sql.Timestamp, Long)]
      .collect().map(r => (r._1, r._2) -> ((r._3, r._4, r._5, r._6))).toMap
    assert(out((1L, 1L)) == (("O", t(1), t(3), 2L)))
    assert(out((1L, 2L)) == (("F", t(3), t(4), 1L)))
    assert(out((1L, 3L)) == (("O", t(4), null, 1L))) // open span
    // a run of NULLs is ONE span opening version 1, not one per row
    assert(out((2L, 1L)) == ((null, t(1), t(3), 2L)))
    assert(out((2L, 2L)) == (("X", t(3), null, 1L)))
    assert(out.size == 5)
  }

  test("budgetedSelection: whole buckets above the cut, hash-ordered boundary admit") {
    import spark.implicits._
    // quality tiers: two docs at 0.9 (30 toks each), three at 0.5
    // (40 each), two at 0.1. Budget 100: the 0.9 bucket fits whole
    // (60), the 0.5 bucket is the boundary (rem 40 → exactly one of
    // its three docs admits, chosen by md5-hash order), 0.1 never
    val docs = Seq(
      (1L, 30L, 0.9), (2L, 30L, 0.9),
      (3L, 40L, 0.5), (4L, 40L, 0.5), (5L, 40L, 0.5),
      (6L, 10L, 0.1), (7L, 10L, 0.1)).toDF("doc_id", "nt", "q")
    def run() = Relational.budgetedSelection(docs, "doc_id", col("nt"),
      col("q"), budgetTokens = 100L).as[(Long, Long, Long)].collect()
      .sortBy(_._1).toSeq
    val out = run()
    assert(out == run()) // deterministic
    val ids = out.map(_._1).toSet
    assert(ids.contains(1L) && ids.contains(2L), out.toString)
    assert(!ids.contains(6L) && !ids.contains(7L), out.toString)
    // exactly one boundary doc, and it is the md5-hash minimum
    val boundary = out.filter(r => Set(3L, 4L, 5L).contains(r._1))
    assert(boundary.size == 1, out.toString)
    val hashMin = Seq(3L, 4L, 5L).minBy(id =>
      graft.functions.Hashing.hexLongJvm(id.toString))
    assert(boundary.head._1 == hashMin, s"$out expected doc $hashMin")
    // budget respected
    assert(out.map(_._2).sum <= 100L, out.toString)
  }

  test("giniIndex: equality=0, single-holder=(n-1)/n, hand value, tie groups, junk excluded") {
    import spark.implicits._
    import graft.operators.Relational
    val rows = Seq(
      ("eq", 5L), ("eq", 5L), ("eq", 5L), ("eq", 5L),
      ("one", 0L), ("one", 0L), ("one", 0L), ("one", 10L),
      ("hand", 1L), ("hand", 2L), ("hand", 3L), ("hand", 4L),
      ("tie", 1L), ("tie", 1L), ("tie", 2L),
      ("zero", 0L), ("zero", 0L),
      ("neg", -5L), ("neg", 10L),
      // mass past the 9e15 long bound: n*total = 2.4e16 -> the value
      // unit auto-scales to 10 and the index computes on v div 10
      // ([4e14, 8e14]: T = 4e14, ts = 1.2e15, G = 4e20/2.4e15 = 166666)
      ("big", 4000000000000000L), ("big", 8000000000000000L))
      .toDF("g", "v")
      .union(Seq(("eq", null.asInstanceOf[java.lang.Long]))
        .toDF("g", "v").select(col("g"), col("v").cast("long")))
    val out = Relational.giniIndex(rows, "g", col("v"))
      .as[(String, Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(out("eq") == (("eq", 4L, 20L, 1L, 0L)), out.toString)
    assert(out("one") == (("one", 4L, 10L, 1L, 750000L)), out.toString)
    // [1,2,3,4]: T = -3-2+3+12 = 10, G = 10/40 = 0.25 exactly
    assert(out("hand") == (("hand", 4L, 10L, 1L, 250000L)), out.toString)
    // [1,1,2]: grouped-count path, G = 2/12 -> 166666 floored
    assert(out("tie") == (("tie", 3L, 4L, 1L, 166666L)), out.toString)
    assert(!out.contains("zero"), "all-zero group has no index")
    // the negative row drops; the group keeps its remaining mass
    assert(out("neg") == (("neg", 1L, 10L, 1L, 0L)), out.toString)
    assert(out("big") ==
      (("big", 2L, 12000000000000000L, 10L, 166666L)), out.toString)
  }

  test("poissonBootstrapCI: deterministic, brackets the exact mean, bounded weights") {
    import spark.implicits._
    import graft.operators.Relational
    val vs = (1 to 200).map(i => 1000L + (i % 7))
    val rows = vs.zipWithIndex.map { case (v, i) => ("a", i.toLong, v) }
      .toDF("g", "k", "v")
    def run() = Relational.poissonBootstrapCI(rows, "g", col("k"),
        col("v"), nReps = 32)
      .as[(String, Long, Long, Long, Long, Long)].head()
    val out = run()
    val s = vs.sum; val n = vs.size.toLong
    val exactMean = (s / n) * 1000000L + (s % n) * 1000000L / n
    assert(out._2 == 200L && out._3 == exactMean, out.toString)
    assert(out._4 == 32L, out.toString)
    // a tame distribution: the 95% CI must bracket the mean, and be
    // a real interval (resampling variance is nonzero)
    assert(out._5 <= exactMean && exactMean <= out._6, out.toString)
    assert(out._5 < out._6, out.toString)
    // hash-derived weights: bit-identical across runs
    assert(run() == out)
    // thresholds really are the Poisson(1) CDF on the 2^20 grid
    val ts = Relational.poissonThresholds
    assert(ts.head == math.floor(math.exp(-1.0) * 1048576.0).toLong)
    assert(ts == ts.sorted && ts.last < 1048576L, ts.toString)
  }

  test("cube: all four grouping sets with grouping_id levels") {
    import spark.implicits._
    val df = Seq(("r", "x", 1L), ("r", "y", 2L), ("s", "x", 4L))
      .toDF("a", "b", "v")
    val out = df.cube(col("a"), col("b"))
      .agg(grouping_id().cast("long").as("level"), sum("v").as("s"))
      .as[(String, String, Long, Long)].collect().toSet
    assert(out == Set(
      ("r", "x", 0L, 1L), ("r", "y", 0L, 2L), ("s", "x", 0L, 4L),
      ("r", null, 1L, 3L), ("s", null, 1L, 4L),
      (null, "x", 2L, 5L), (null, "y", 2L, 2L),
      (null, null, 3L, 7L)), out.toString)
  }

  test("benfordAudit: first-digit extraction, densified digits, JVM-twin chi2, junk dropped") {
    import spark.implicits._
    import graft.operators.Relational
    val e = Relational.benfordMicros
    assert(e.head == 301030L && e.last == 45757L && e.length == 9)
    def chi2Jvm(counts: Map[Long, Long]): Double = {
      val n = counts.values.sum.toDouble
      val acc = (1 to 9).map { d =>
        val exp = n * e(d - 1).toDouble / 1e6
        val c = counts.getOrElse(d.toLong, 0L).toDouble
        (c - exp) * (c - exp) / exp
      }.sum
      BigDecimal(acc).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    // group u: first digits of multi-digit values; group s: one digit
    // only, the other eight densify in at c=0; junk rows drop
    val rows = Seq(
      ("u", 123L), ("u", 987L), ("u", 20L), ("u", 1L), ("u", 55L),
      ("s", 7L), ("s", 71L), ("s", 700L),
      ("u", 0L), ("u", -5L)).toDF("g", "v")
      .union(Seq(("u", null.asInstanceOf[java.lang.Long]))
        .toDF("g", "v").select(col("g"), col("v").cast("long")))
    val out = Relational.benfordAudit(rows, "g", col("v"))
      .as[(String, Long, Long, Long, Long, Long, Long, Double)]
      .collect()
    assert(out.length == 18, out.length.toString) // 2 groups x 9 digits
    val u = out.filter(_._1 == "u").map(r => r._2 -> r).toMap
    assert(u(1L)._3 == 2L && u(9L)._3 == 1L && u(2L)._3 == 1L &&
      u(5L)._3 == 1L && u(3L)._3 == 0L, u.toString) // 123->1, 987->9
    assert(u(1L)._4 == 5L) // n excludes the three junk rows
    assert(u(1L)._5 == 400000L) // 2*1e6 div 5
    assert(u(1L)._8 == chi2Jvm(Map(1L -> 2L, 2L -> 1L, 5L -> 1L, 9L -> 1L)))
    val sChi = out.filter(_._1 == "s").head._8
    assert(sChi == chi2Jvm(Map(7L -> 3L)), sChi.toString)
    assert(sChi > u(1L)._8, "single-digit pile must deviate harder")
  }

  test("paretoFrontier: dominance, both-axes ties kept, bucket-width invariant, nulls dropped") {
    import spark.implicits._
    def run(rows: Seq[(Long, java.lang.Long, java.lang.Long)], w: Long) =
      graft.operators.Relational.paretoFrontier(
          rows.toDF("id", "x", "y"), "id", col("x"), col("y"), w)
        .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    val base: Seq[(Long, java.lang.Long, java.lang.Long)] = Seq(
      (1L, 1L, 10L), (2L, 5L, 5L), (3L, 10L, 1L), // the frontier
      (4L, 4L, 4L),                               // dominated by 2
      (5L, 5L, 5L),                               // exact tie of 2: kept
      (6L, null.asInstanceOf[java.lang.Long], 9L),// null x: dropped
      (7L, 3L, null.asInstanceOf[java.lang.Long]))
    val expected = Seq((1L, 1L, 10L), (2L, 5L, 5L), (3L, 10L, 1L),
      (5L, 5L, 5L))
    assert(run(base, 2L) == expected, run(base, 2L).toString)
    // bucket width is a pure optimization: per-value buckets and the
    // degenerate one-bucket width agree exactly
    assert(run(base, 1L) == expected)
    assert(run(base, 100L) == expected)
    // a same-x strictly-better point kills both tied rows
    val withF = base :+ ((8L, 5L, 6L)
      : (Long, java.lang.Long, java.lang.Long))
    assert(run(withF, 2L) ==
      Seq((1L, 1L, 10L), (3L, 10L, 1L), (8L, 5L, 6L)),
      run(withF, 2L).toString)
  }

  test("prioritySample: exactly k, HT estimate tracks the total, whale surely in, degenerate n<=k") {
    val rows = (1L to 2000L).map(i => (i, (i % 97) + 1))
    val restMass = rows.map(_._2).sum
    val df = (rows :+ ((9999L, restMass))).toDF("k", "w") // whale = half of all mass
    val out = Relational.prioritySample(df, col("k"), col("w"), 100)
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(out.length == 100)
    assert(out.map(_._5).sorted.toSeq == (1L to 100L)) // ranks dense
    // the whale's priority w/u >= w = half the corpus mass dwarfs the
    // (k+1)-th priority (~2 n w̄/k): surely sampled, and since w > tau
    // its HT weight is EXACT
    val whale = out.find(_._1 == 9999L)
    assert(whale.isDefined && whale.get._4 == restMass, whale.toString)
    // the point of the operator: sum of adjusted weights over the
    // sample estimates the POPULATION total (DLT unbiasedness; one
    // realization lands within the ~1/sqrt(k-1) band)
    val sumW = 2.0 * restMass
    val sumHat = out.map(_._4).sum.toDouble
    assert(math.abs(sumHat - sumW) / sumW < 0.3,
      s"sumHat=$sumHat vs sumW=$sumW")
    // deterministic: a rerun is bit-identical
    val again = Relational.prioritySample(df, col("k"), col("w"), 100)
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(out.sortBy(_._1).toSeq == again.sortBy(_._1).toSeq)
    // population <= k: everything returns, tau = 0, w_hat == w exactly
    val small = Relational.prioritySample(
        Seq[(Long, java.lang.Long)]((1L, 10L), (2L, 5L), (3L, 0L),
          (4L, null))
          .toDF("k", "w"), col("k"), col("w"), 100)
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(small.map(r => (r._1, r._2, r._4)).toSeq ==
      Seq((1L, 10L, 10L), (2L, 5L, 5L)), small.mkString(","))
  }

  test("kAnonymityAudit: k and l flags independent, null quasi is a class, null sensitive no diversity") {
    val rows =
      (1 to 6).map(i => ("a", if (i % 2 == 0) "s1" else "s2")) ++ // clean
      Seq(("b", "s1"), ("b", "s2"), ("b", "s3")) ++     // k only (3 < 5)
      (1 to 10).map(_ => ("c", "s1")) ++                // l only (1 < 2)
      Seq(("d", "s1"), ("d", "s1")) ++                  // both
      Seq((null.asInstanceOf[String], "s1")) ++         // null quasi class
      (1 to 5).map(_ => ("e", null.asInstanceOf[String])) // null sensitive
    val out = Relational.kAnonymityAudit(rows.toDF("q", "s"),
        Seq("q"), col("s"), k = 5L, l = 2L)
      .as[(Option[String], Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(out == Map(
      Some("b") -> ((3L, 3L, 1L, 0L)),   // under-k, diverse
      Some("c") -> ((10L, 1L, 0L, 1L)),  // populous, uniform
      Some("d") -> ((2L, 1L, 1L, 1L)),   // both violations
      None -> ((1L, 1L, 1L, 1L)),        // NULL quasi still audited
      Some("e") -> ((5L, 0L, 0L, 1L))),  // NULL sensitive: no evidence
      out.toString)
    // the clean class is NOT in the report (the audit is the
    // violations table, not the class table)
    assert(!out.contains(Some("a")))
  }
}
