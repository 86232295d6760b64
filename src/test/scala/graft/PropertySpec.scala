package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.operators.{Dedup, Relational, Similarity}

/** Property-based tests (SURVEY.md §5.3): invariants over generated
  * inputs, checked through the real operators on the real session.
  * Raw ScalaCheck generators sampled under fixed seeds (the scalatest
  * bridge artifact is not in the offline cache), so failures are
  * reproducible by seed. */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(i.toLong)))

  val rowsGen: Gen[List[(String, String, Long)]] = Gen.listOf(for {
    key <- Gen.oneOf("k1", "k2", "k3", "k4")
    date <- Gen.choose(1, 28).map(d => f"2018-01-$d%02d")
  } yield (key, date)).map(_.zipWithIndex.map {
    case ((k, d), i) => (k, d, i.toLong)
  })

  test("keepLast: exactly one row per key, carrying the max (date, pos)") {
    samples(rowsGen, 12).filter(_.nonEmpty).foreach { rows =>
      val df = rows.toDF("k", "d", "pos")
      val out = Relational.keepLast(Seq("k"),
        Seq(col("d").desc, col("pos").desc))(df)
        .as[(String, String, Long)].collect()
      val expected = rows.groupBy(_._1).map { case (_, g) =>
        g.maxBy(r => (r._2, r._3))
      }.toSet
      assert(out.toSet == expected, s"seed input: $rows")
      assert(out.map(_._1).distinct.length == out.length)
    }
  }

  test("regexStripCast: total on A-prefixed numerics, null on garbage") {
    val vGen = Gen.oneOf(
      Gen.choose(0, 99).map(n => s"A$n"),
      Gen.alphaLowerStr.map("junk_" + _))
    samples(Gen.nonEmptyListOf(vGen), 12).foreach { vs =>
      val out = Relational.regexStripCast("v", "A")(vs.toDF("v"))
        .as[Option[Double]].collect()
      vs.zip(out).foreach { case (in, res) =>
        if (in.matches("A\\d+")) assert(res.contains(in.drop(1).toDouble))
        else assert(res.isEmpty, s"'$in' should cast to null")
      }
    }
  }

  test("minhash: identical docs always become a candidate pair; pairs ordered") {
    val textGen = Gen.nonEmptyListOf(
      Gen.oneOf("alpha", "beta", "gamma", "delta", "eps")).map(_.mkString(" "))
    samples(Gen.nonEmptyListOf(textGen), 8).filter(_.length >= 2).foreach { texts =>
      val docs = ((0L, texts.head) :: (1L, texts.head) ::
        texts.tail.zipWithIndex.map { case (t, i) => (i + 2L, t) })
        .toDF("doc_id", "text")
      val cand = Dedup.minHashCandidates(docs, "doc_id", col("text"), 3, 8, 4)
        .as[(Long, Long)].collect().toSet
      assert(cand.contains((0L, 1L)), s"dup pair missed for: ${texts.head}")
      assert(cand.forall(p => p._1 < p._2))
    }
  }

  test("stratified sampling: nested rates give nested samples; rate 1 keeps all") {
    import graft.operators.TextAnalysis
    val ratesGen = for {
      rEn <- Gen.choose(0.0, 1.0)
      rFr <- Gen.choose(0.0, 1.0)
      dflt <- Gen.choose(0.0, 1.0)
    } yield (rEn, rFr, dflt)
    val df = (1 to 800).map(i =>
      (i.toLong, Seq("en", "fr", "zh")(i % 3))).toDF("k", "lang")
    samples(ratesGen, 8).foreach { case (rEn, rFr, dflt) =>
      def kept(scale: Double) = df.filter(TextAnalysis.stratifiedSample(
        col("k"), col("lang"),
        Map("en" -> rEn * scale, "fr" -> rFr * scale), dflt * scale))
        .as[(Long, String)].collect().map(_._1).toSet
      val full = kept(1.0)
      val half = kept(0.5)
      assert(half.subsetOf(full), s"rates ($rEn,$rFr,$dflt): not nested")
    }
    val all = df.filter(TextAnalysis.stratifiedSample(col("k"), col("lang"),
      Map("en" -> 1.0), 1.0)).count()
    assert(all == 800)
  }

  test("bucketed quantiles: min/max/median of generated lists match a direct computation") {
    import graft.operators.Quantiles
    val listGen = Gen.nonEmptyListOf(Gen.choose(-1000.0, 1000.0))
    samples(listGen, 8).filter(_.length >= 2).foreach { vs =>
      val df = vs.map(("g", _)).toDF("g", "v")
      val out = Quantiles.quantileContBucketed(df, Seq("g"),
        Seq(("v", col("v"), 37.0, Seq(("p0", 0.0), ("p50", 0.5), ("p100", 1.0))))).head()
      val sorted = vs.sorted
      assert(out.getDouble(1) == sorted.head, s"p0 for $vs")
      assert(out.getDouble(3) == sorted.last, s"p100 for $vs")
      val n = sorted.length
      val h = (n - 1) * 0.5
      val expected50 = sorted(h.toInt) * (1.0 - (h - h.toInt)) +
        (if (math.ceil(h).toInt != h.toInt) sorted(math.ceil(h).toInt) * (h - h.toInt) else 0.0)
      assert(math.abs(out.getDouble(2) - expected50) < 1e-9, s"p50 for $vs")
    }
  }

  test("md5_long56 == the md5/substring/conv chain == the JVM twin, on arbitrary strings") {
    val strGen = Gen.oneOf(
      Gen.alphaNumStr, Gen.asciiPrintableStr,
      Gen.listOf(Gen.oneOf('√', 'ü', '日', '\n', '|', ' ', 'a')).map(_.mkString))
    val strs = samples(strGen, 60).distinct
    val df = strs.toDF("s")
    val out = df.select(
        graft.functions.Hashing.hexLong(col("s")).as("fused"),
        conv(substring(md5(col("s")), 1, 14), 16, 10).cast("long").as("chain"),
        col("s"))
      .collect()
    out.foreach { r =>
      assert(r.getLong(0) == r.getLong(1), s"'${r.getString(2)}'")
      assert(r.getLong(0) == graft.functions.Hashing.hexLongJvm(r.getString(2)))
      assert(r.getLong(0) >= 0L) // 56-bit: never sign-flips
    }
    // interpreted path agrees with the codegen'd one
    val e = graft.functions.Md5Long(
      graft.functions.Native.expr(lit("interpreted-probe")))
    assert(e.eval(null) == graft.functions.Hashing.hexLongJvm("interpreted-probe"))
  }

  test("nfc_normalize: NFD==NFC keys, idempotent, codegen==interpreted, ASCII untouched") {
    import graft.functions.{Native, NfcNormalize}
    val nfd = "cafe\u0301 u\u0308ber A\u030Angstro\u0308m"
    val nfc = "caf\u00e9 \u00fcber \u00c5ngstr\u00f6m"
    assert(nfd != nfc) // distinct byte sequences...
    val out = Seq((nfd, nfc)).toDF("a", "b")
      .select(Native.nfcNormalize(col("a")).as("na"),
        Native.nfcNormalize(col("b")).as("nb"),
        md5(Native.nfcNormalize(col("a"))).as("ka"),
        md5(Native.nfcNormalize(col("b"))).as("kb"),
        md5(col("a")).as("ra"), md5(col("b")).as("rb"))
      .collect().head
    // ...the normalized forms and keys agree, the raw byte keys do NOT
    assert(out.getString(0) == out.getString(1))
    assert(out.getString(2) == out.getString(3))
    assert(out.getString(4) != out.getString(5))
    // matches java.text.Normalizer and is idempotent
    val ref = java.text.Normalizer.normalize(nfd, java.text.Normalizer.Form.NFC)
    assert(out.getString(0) == ref)
    // interpreted eval agrees with the codegen'd path above
    val e = NfcNormalize(Native.expr(lit(nfd)))
    assert(e.eval(null).toString == ref)
    // ASCII and null pass through
    val ascii = Seq(("plain ascii", Option.empty[String])).toDF("a", "n")
      .select(Native.nfcNormalize(col("a")), Native.nfcNormalize(col("n")))
      .collect().head
    assert(ascii.getString(0) == "plain ascii" && ascii.isNullAt(1))
  }

  test("cosine similarity is within [-1, 1] and symmetric") {
    val vecGen = Gen.listOfN(6, Gen.choose(-5.0, 5.0).map(_.toFloat))
      .suchThat(_.exists(_ != 0f)).map(_.toArray)
    samples(Gen.listOfN(4, vecGen), 6).foreach { vecs =>
      val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
        .toDF("vec_id", "embedding")
      val sims = df.as("a").join(df.as("b"), col("a.vec_id") =!= col("b.vec_id"))
        .select(col("a.vec_id"), col("b.vec_id"),
          Similarity.cosine(col("a.embedding"), col("b.embedding")).as("c"))
        .as[(Long, Long, Double)].collect()
      sims.foreach { case (_, _, c) =>
        assert(c >= -1.0 - 1e-9 && c <= 1.0 + 1e-9)
      }
      val m = sims.map { case (a, b, c) => (a, b) -> c }.toMap
      m.foreach { case ((a, b), c) => assert(math.abs(m((b, a)) - c) < 1e-12) }
    }
  }

  test("bounded top-k aggregate == window row_number on random scored sets (any k)") {
    import org.apache.spark.sql.expressions.Window
    // random (query, id, score) triples with deliberate score ties and
    // random k: the aggregate must reproduce the window's (score desc,
    // id asc) ranking exactly, across shuffled partitions
    val scoredGen: Gen[List[(Long, Long, Double)]] = Gen.listOf(for {
      q <- Gen.choose(0L, 3L)
      score <- Gen.choose(0, 8).map(_ / 4.0) // coarse grid => many ties
    } yield (q, score)).map(_.zipWithIndex.map {
      case ((q, s), i) => (q, i.toLong, s)
    })
    samples(scoredGen.flatMap(l => Gen.choose(1, 6).map(l -> _)), 10)
      .filter(_._1.nonEmpty).foreach { case (rows, k) =>
        val df = rows.toDF("query_id", "neighbor_id", "cos_sim").repartition(5)
        val w = Window.partitionBy(col("query_id"))
          .orderBy(col("cos_sim").desc, col("neighbor_id").asc)
        val ref = df.withColumn("rank", row_number().over(w))
          .filter(col("rank") <= k)
          .as[(Long, Long, Double, Int)].collect().toSet
        val got = df.groupBy("query_id")
          .agg(graft.functions.Native.topKByScore(
            col("cos_sim"), col("neighbor_id"), k).as("tk"))
          .select(col("query_id"), posexplode(col("tk")).as(Seq("p", "s")))
          .select(col("query_id"), col("s.id"), col("s.score"), (col("p") + 1))
          .as[(Long, Long, Double, Int)].collect().toSet
        assert(got == ref, s"k=$k rows=$rows")
      }
  }

  test("duplicateSpans: spans disjoint, inside the doc, only over true dups") {
    val docGen = Gen.listOfN(12,
      Gen.choose(0, 3).map(i => s"t$i")).map(_.mkString(" "))
    samples(Gen.listOfN(6, docGen), 8).foreach { texts =>
      val rows = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val df = rows.toDF("doc_id", "text")
      val k = 3
      val out = Dedup.duplicateSpans(df, "doc_id", col("text"), k)
        .as[(Long, Long, Long, Long, Long)].collect()
      // exact reference: window strings with a global count >= 2
      val wins = rows.flatMap { case (id, t) =>
        val w = t.split(" ")
        (0 to w.length - k).map(i => (id, i, w.slice(i, i + k).mkString(" ")))
      }
      val dupSet = wins.groupBy(_._3).filter(_._2.size >= 2).keySet
      val dupPos = wins.filter(w => dupSet(w._3))
        .groupBy(_._1).map { case (id, ps) => id -> ps.map(_._2).sorted }
      out.groupBy(_._1).foreach { case (id, spans) =>
        val n = rows.find(_._1 == id).get._2.split(" ").length
        val sorted = spans.sortBy(_._3)
        // inside the doc, ordered span ids, pairwise disjoint
        assert(sorted.forall(s => s._3 >= 0 && s._4 <= n - 1 && s._3 <= s._4))
        assert(sorted.map(_._2).toSeq == (1L to sorted.length).toSeq)
        sorted.sliding(2).foreach {
          case Array(a, b) => assert(a._4 < b._3)
          case _ =>
        }
        // every duplicated window position is covered by some span and
        // the span set covers nothing else
        val covered = sorted.flatMap(s => s._3 to s._4).toSet
        val expected = dupPos.getOrElse(id, Seq())
          .flatMap(p => p.toLong to (p + k - 1).toLong).toSet
        assert(covered == expected, s"doc $id texts=$texts")
      }
      assert(out.map(_._1).toSet == dupPos.keySet)
    }
  }

  test("gopherRepetition: fractions bounded, zero iff no duplicate gram") {
    import graft.operators.TextAnalysis
    val docGen = Gen.choose(1, 14).flatMap(n =>
      Gen.listOfN(n, Gen.choose(0, 4).map(i => s"w$i")).map(_.mkString(" ")))
    samples(Gen.listOfN(5, docGen), 8).foreach { texts =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val out = TextAnalysis.gopherRepetition(df, "doc_id", col("text"))
        .as[(Long, Long, Double, Double, Double, Double)].collect()
      assert(out.length == texts.length)
      out.foreach { r =>
        val (id, top2, dup2) = (r._1, r._3, r._4)
        assert(top2 >= 0 && dup2 >= 0 && r._5 >= 0 && r._6 >= 0)
        // dup mass only when some bigram repeats; top covers at most all
        // occurrences of one gram
        val w = texts(id.toInt).split(" ")
        val hasDup2 = w.sliding(2).filter(_.length == 2)
          .map(_.mkString(" ")).toSeq
          .groupBy(identity).exists(_._2.size > 1)
        assert((dup2 > 0) == (w.length >= 2 && hasDup2),
          s"doc $id '${texts(id.toInt)}'")
        if (w.length >= 2) assert(top2 > 0)
      }
    }
  }

  test("sourceJsd: bounded in [0, ln 2], ordered pairs, complete pair set") {
    import graft.operators.TextAnalysis
    val srcGen = for {
      src <- Gen.oneOf("sa", "sb", "sc")
      toks <- Gen.nonEmptyListOf(Gen.choose(0, 5).map(i => s"v$i"))
    } yield (src, toks.mkString(" "))
    samples(Gen.listOfN(9, srcGen), 8).foreach { rows =>
      val df = rows.toDF("source", "text")
      val out = TextAnalysis.sourceJsd(df, "source", col("text"), 100)
        .as[(String, String, Long, Double)].collect()
      val ln2 = math.log(2.0) + 1e-9
      out.foreach { r =>
        assert(r._1 < r._2, "pairs are ordered once")
        assert(r._4 >= 0.0 && r._4 <= ln2, s"jsd out of range: $r")
      }
      // pair count = C(#sources with >= 1 token, 2)
      val s = rows.map(_._1).distinct.size
      assert(out.length == s * (s - 1) / 2)
    }
  }

  test("scd2History invariants: spans tile per key, versions consecutive, counts conserve") {
    import graft.operators.Relational
    val logGen: Gen[List[(Long, Int, String)]] = Gen.listOf(for {
      k <- Gen.oneOf(1L, 2L, 3L)
      day <- Gen.choose(1, 28)
      a <- Gen.oneOf("O", "F", "P", null: String)
    } yield (k, day, a))
    samples(logGen, 10).filter(_.nonEmpty).foreach { rows0 =>
      val rows = rows0.zipWithIndex.map { case ((k, day, a), i) =>
        (k, java.sql.Timestamp.valueOf(f"2024-01-$day%02d 00:00:00"), i.toLong, a)
      }
      val out = Relational.scd2History(rows.toDF("k", "ts", "id", "a"),
          "k", "ts", "id", col("a"))
        .as[(Long, Long, String, java.sql.Timestamp, java.sql.Timestamp, Long)]
        .collect()
      rows.groupBy(_._1).foreach { case (k, g) =>
        val spans = out.filter(_._1 == k).sortBy(_._2)
        // versions are 1..n with no gaps; counts conserve the log
        assert(spans.map(_._2).toSeq == (1L to spans.length).toSeq, s"input: $rows")
        assert(spans.map(_._6).sum == g.length, s"input: $rows")
        // spans tile: valid_to(v) == valid_from(v+1); only the last is open
        spans.sliding(2).foreach {
          case Array(a, b) => assert(a._5 == b._4, s"gap in $k: $rows")
          case _ =>
        }
        assert(spans.last._5 == null && spans.init.forall(_._5 != null))
        // consecutive spans change attribute (null-safe)
        spans.sliding(2).foreach {
          case Array(a, b) => assert(a._3 != b._3, s"uncollapsed run: $rows")
          case _ =>
        }
      }
    }
  }

  test("percentRank invariants: [0,1], value-monotone, equal values share a rank") {
    import graft.operators.Quantiles
    val vGen = Gen.nonEmptyListOf(Gen.choose(0, 20).map(_ / 4.0))
    samples(vGen, 10).foreach { vs =>
      val df = vs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "v")
      val out = Quantiles.percentRank(df, col("v"))
        .as[(Long, Double, Double)].collect()
      assert(out.forall(r => r._3 >= 0.0 && r._3 <= 1.0), s"input: $vs")
      val byV = out.groupBy(_._2).view.mapValues(_.map(_._3).distinct).toMap
      assert(byV.values.forall(_.length == 1), s"tied values split ranks: $vs")
      val sorted = byV.toSeq.sortBy(_._1)
      assert(sorted.map(_._2.head) == sorted.map(_._2.head).sorted, s"input: $vs")
      if (vs.length > 1) {
        assert(out.find(_._2 == vs.min).get._3 == 0.0)
      }
    }
  }

  test("ewmaSmooth invariants: bounded by window extremes, singleton identity") {
    import graft.operators.Temporal
    val vGen = Gen.nonEmptyListOf(Gen.choose(0, 1000).map(_ / 100.0))
    samples(vGen, 8).foreach { vs =>
      val rows = vs.zipWithIndex.map { case (v, i) =>
        (1L, i.toLong, new java.sql.Timestamp(1700000000000L + i * 1000L), v) }
      val out = Temporal.ewmaSmooth(rows.toDF("u", "id", "ts", "v"),
          "u", "ts", "id", col("v"), horizon = 4)
        .as[(Long, Long, Double)].collect().sortBy(_._2)
      out.zipWithIndex.foreach { case ((_, _, e), i) =>
        val window = vs.slice(math.max(0, i - 3), i + 1)
        // cents quantization allows 0.005 + 1e-6 slack on the bounds
        assert(e >= window.min - 0.006 && e <= window.max + 0.006,
          s"row $i ewma $e outside [${window.min}, ${window.max}]: $vs")
      }
      assert(math.abs(out.head._3 - math.floor(vs.head * 100 + 0.5) / 100) < 1e-9)
    }
  }
}
