package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, PrefixSum, RangeJoin, SuffixRank}

/** Property-based equivalence: the distributed rewrites must equal their
  * naive single-node renderings on arbitrary inputs, not just the
  * hand-picked spec cases — random keys, radii, duplicates, skew. Inputs
  * come from ScalaCheck generators sampled under FIXED seeds, so a
  * failure reproduces exactly.
  */
class PropertySpec extends AnyFunSuite with SparkSuite {

  private def samples[A](g: Gen[A], n: Int): Seq[(Long, A)] =
    (0L until n.toLong).flatMap { seed =>
      g.apply(Gen.Parameters.default.withSize(40), Seed(seed))
        .map(seed -> _)
    }

  private val rowsGen = Gen.nonEmptyListOf(for {
    k <- Gen.oneOf("a", "b", "c")
    v <- Gen.chooseNum(0L, 500L)
  } yield (k, v))

  test("range join ≡ naive theta-join for random keys, values and radii") {
    import spark.implicits._
    val cases = samples(for {
      ls <- rowsGen; rs <- rowsGen; radius <- Gen.chooseNum(1L, 120L)
    } yield (ls, rs, radius), 8)
    assert(cases.size >= 6)
    cases.foreach { case (seed, (ls, rs, radius)) =>
      val l = ls.zipWithIndex.map { case ((k, v), i) => (i.toLong, k, v) }
        .toDF("lid", "k", "lv")
      val r = rs.zipWithIndex.map { case ((k, v), i) => (i.toLong, k, v) }
        .toDF("rid", "k", "rv")
      val binned = RangeJoin.withinRadius(l, r, Seq("k"), "lv", "rv", radius)
        .select("lid", "rid").collect()
        .map(x => (x.getLong(0), x.getLong(1))).toSet
      val naive = l.join(r, Seq("k"))
        .filter(abs(col("lv") - col("rv")) <= radius)
        .select("lid", "rid").collect()
        .map(x => (x.getLong(0), x.getLong(1))).toSet
      assert(binned == naive, s"seed=$seed radius=$radius")
    }
  }

  test("graft_topk ≡ window row_number for random scores (ties included)") {
    import spark.implicits._
    val gen = for {
      rows <- Gen.nonEmptyListOf(for {
        g <- Gen.oneOf("x", "y")
        s <- Gen.chooseNum(0, 5) // small domain → frequent score ties
      } yield (g, s.toDouble))
      k <- Gen.chooseNum(1, 6)
    } yield (rows, k)
    samples(gen, 8).foreach { case (seed, (rows, k)) =>
      val df = rows.zipWithIndex.map { case ((g, s), i) => (g, s, i.toLong) }
        .toDF("g", "s", "i")
      val agg = df.groupBy("g")
        .agg(expr(s"graft_topk(s, i, $k)").as("top"))
        .select(col("g"), explode(col("top")).as("t"))
        .select(col("g"), col("t.score"), col("t.id"))
        .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("g").orderBy(col("s").desc, col("i"))
      val win = df.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= k).select("g", "s", "i")
        .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
      assert(agg == win, s"seed=$seed k=$k")
    }
  }

  test("interval-overlap join ≡ naive theta-join; owner-bin dedup emits each pair once") {
    import spark.implicits._
    // intervals deliberately span 0..6× the 100-unit bin width so the
    // sequence() replication covers multi-bin intervals, zero-length
    // intervals, and bin-boundary touches
    val ivGen = Gen.nonEmptyListOf(for {
      k <- Gen.oneOf("a", "b")
      s <- Gen.chooseNum(0L, 1000L)
      len <- Gen.chooseNum(0L, 600L)
    } yield (k, s, s + len))
    samples(ivGen, 8).foreach { case (seed, ivs) =>
      val df = ivs.zipWithIndex.map { case ((k, s, e), i) =>
        (i.toLong, k, s, e) }.toDF("id", "k", "s_us", "e_us")
      // exercise the production path at its real bin width by scaling:
      // overlapPairs bins by 3_600_000_000 — multiply the domain up so
      // intervals straddle bins exactly as events do
      val W = 3600000000L
      val scaled = df.select(col("id"), col("k"),
        (col("s_us") * (W / 100)).as("s_us"), (col("e_us") * (W / 100)).as("e_us"))
      val binned = RangeJoin.overlapPairs(scaled, "k", "id", "s_us", "e_us")
        .select("a_id", "b_id").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      val naive = scaled.toDF("aid", "k", "as", "ae")
        .join(scaled.toDF("bid", "k", "bs", "be"), "k")
        .filter(col("aid") < col("bid") &&
          col("as") <= col("be") && col("bs") <= col("ae"))
        .select("aid", "bid").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      assert(binned.length == binned.toSet.size,
        s"seed=$seed: owner-bin rule must emit each pair exactly once")
      assert(binned.toSet == naive.toSet, s"seed=$seed")
    }
  }

  test("q118 sign-bit packing: popcount Hamming ≡ per-dimension sign disagreement count") {
    import spark.implicits._
    val vecGen = Gen.listOfN(64, Gen.chooseNum(-8, 8).map(_ / 4.0f))
    samples(Gen.zip(vecGen, vecGen), 8).foreach { case (seed, (va, vb)) =>
      val df = Seq((va, vb)).toDF("ea", "eb")
      def pack(c: String, h: Int) = (0 until 32).map { d =>
        s"if(element_at($c, ${h * 32 + d + 1}) > 0, ${1L << d}L, 0L)"
      }.mkString(" + ")
      val packed = df.selectExpr(
        s"bit_count((${pack("ea", 0)}) ^ (${pack("eb", 0)})) + " +
          s"bit_count((${pack("ea", 1)}) ^ (${pack("eb", 1)})) AS h")
        .collect()(0).getInt(0)
      val direct = va.zip(vb).count { case (x, y) => (x > 0) != (y > 0) }
      assert(packed == direct, s"seed=$seed")
    }
  }

  test("q31b prefix/length/positional filters find EVERY Jaccard ≥ 1/2 pair on random docs") {
    import spark.implicits._
    // local mirror of graft_shingles: distinct token-3-grams, short-input
    // edge = one whole-doc shingle
    def shingles(toks: List[String]): Set[String] =
      if (toks.size < 3) Set(toks.mkString(" "))
      else toks.sliding(3).map(_.mkString(" ")).toSet
    val docGen = Gen.nonEmptyListOf(
      Gen.chooseNum(1, 12).flatMap(n =>
        Gen.listOfN(n, Gen.oneOf("w0", "w1", "w2", "w3", "w4", "w5"))))
    samples(docGen, 6).foreach { case (seed, docs0) =>
      val docs = docs0.filter(_.nonEmpty).take(25)
      val df = docs.zipWithIndex
        .map { case (ts, i) => (i.toLong, ts.mkString(" ")) }
        .toDF("doc_id", "text")
        .select(col("doc_id"),
          expr("graft_shingles(split(trim(text), '\\\\s+'), 3)").as("sh"))
      val got = Dedup.prefixJaccardPairs(df)
        .select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val sets = docs.map(d => shingles(d))
      val expect = (for {
        i <- sets.indices; j <- sets.indices if i < j
        inter = (sets(i) & sets(j)).size
        if inter.toDouble / (sets(i).size + sets(j).size - inter) >= 0.5
      } yield (i.toLong, j.toLong)).toSet
      assert(got == expect, s"seed=$seed docs=${docs.size}")

      // the parameterized thresholds (q133's truth runs t = 4/5): the
      // prefix/length/positional prunes must stay lossless at every p/q
      for ((p, q) <- Seq((4, 5), (2, 3))) {
        val t = p.toDouble / q
        val gotT = Dedup.prefixJaccardPairs(df, p, q, t)
          .select("id_a", "id_b").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        val expectT = (for {
          i <- sets.indices; j <- sets.indices if i < j
          inter = (sets(i) & sets(j)).size
          if inter.toDouble / (sets(i).size + sets(j).size - inter) >= t
        } yield (i.toLong, j.toLong)).toSet
        assert(gotT == expectT, s"seed=$seed t=$p/$q")
      }
    }
  }

  test("winnowing guarantee: docs sharing a ≥6-token verbatim run always share a fingerprint (q55 soundness)") {
    import spark.implicits._
    // window+ngram−1 = 4+3−1 = 6: a planted 6-token run yields exactly
    // one hash window fully inside the match in BOTH docs, whose min is
    // the same selected fingerprint — whatever surrounds it
    val wordGen = Gen.oneOf((0 until 40).map(i => s"w$i"))
    val docGen = Gen.chooseNum(6, 20).flatMap(n => Gen.listOfN(n, wordGen))
    val spanGen = Gen.chooseNum(6, 10).flatMap(n => Gen.listOfN(n, wordGen))
    samples(Gen.zip(spanGen, docGen, docGen), 8).foreach {
      case (seed, (span, d1, d2)) =>
        val a = d1.take(7) ++ span ++ d1.drop(7)
        val b = d2.take(3) ++ span ++ d2.drop(3)
        val fps = Seq((0L, a.mkString(" ")), (1L, b.mkString(" ")))
          .toDF("doc_id", "text")
          .select(col("doc_id"), explode(
            expr("graft_winnow(split(trim(text), '\\\\s+'), 3, 4)")).as("fp"))
        val shared = fps.groupBy("fp")
          .agg(countDistinct("doc_id").as("nd"))
          .filter(col("nd") === 2).count()
        assert(shared >= 1, s"seed=$seed planted span surfaced no shared fingerprint")
    }
  }

  test("PrefixSum.overBlocks ≡ sequential running sum for random values and block sizes") {
    import spark.implicits._
    val gen = for {
      vals <- Gen.nonEmptyListOf(Gen.chooseNum(0L, 100L))
      blockSize <- Gen.chooseNum(1L, 16L)
    } yield (vals, blockSize)
    samples(gen, 8).foreach { case (seed, (vals, blockSize)) =>
      val df = vals.zipWithIndex.map { case (v, i) => (i.toLong, v) }
        .toDF("id", "v")
      val got = PrefixSum.overBlocks(df, "id", "v", blockSize, "cum")
        .select("id", "cum").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
      val expect = vals.scanLeft(0L)(_ + _).tail.zipWithIndex
        .map { case (c, i) => (i.toLong, c) }.toMap
      assert(got == expect, s"seed=$seed blockSize=$blockSize")
    }
  }

  test("prefix doubling ≡ direct rank-by-16-token-slice on random repetitive corpora") {
    import spark.implicits._
    // tiny alphabet with prefix-of-another tokens ("a" vs "ab") — the
    // adversarial case for the joined-string order argument — and doc
    // lengths straddling the 16-token span (shorter suffixes must sort
    // before their extensions through the −1 sentinel rounds)
    val docsGen = Gen.nonEmptyListOf(
      Gen.chooseNum(0, 24).flatMap(n =>
        Gen.listOfN(n, Gen.oneOf("a", "b", "ab", "ba"))))
    val cases = samples(docsGen, 6)
    assert(cases.size >= 4)
    cases.foreach { case (seed, docs) =>
      val df = docs.zipWithIndex
        .map { case (ts, i) => (i.toLong, ts.mkString(" ")) }
        .toDF("doc_id", "text")
      val doubled = SuffixRank.suffixRanks(df)
        .select("doc_id", "p", "rank").collect()
        .map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
      val direct = df
        .select(col("doc_id"), expr(Dedup.toks).as("t"))
        .select(col("doc_id"), col("t"),
          posexplode(col("t")).as(Seq("p", "tok")))
        .withColumn("key",
          expr("concat_ws(' ', slice(t, p + 1, 16))"))
        .withColumn("rank",
          dense_rank().over(org.apache.spark.sql.expressions.Window
            .orderBy("key")).cast("long"))
        .select("doc_id", "p", "rank").collect()
        .map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
      assert(doubled == direct, s"seed=$seed")
    }
    // empty corpus: every round's max-rank probe sees a NULL aggregate —
    // must come back as an empty frame, not a driver NPE
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(SuffixRank.suffixRanks(empty).collect().isEmpty)
  }

  test("q63b spans tile every doc exactly and fill every non-final sequence to L") {
    val sf = sys.props.get("graft.testdata")
      .orElse(sys.env.get("GRAFT_TESTDATA")).getOrElse("/root/testdata/sf0.001")
    val L = 2048L
    val rows = SparkEntry.queries("q63b_sequence_packing")(spark, sf)
      .select("doc_id", "seq_id", "seq_off", "doc_off", "len").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.forall(_._5 > 0), "every span must be non-empty")
    // per doc: spans in seq order tile [0, n_tokens) with no gap/overlap
    rows.groupBy(_._1).foreach { case (doc, spans) =>
      val s = spans.sortBy(_._2)
      assert(s.head._4 == 0L, s"doc $doc must start at doc_off 0")
      s.sliding(2).foreach {
        case Array(a, b) =>
          assert(b._2 == a._2 + 1, s"doc $doc spans must hit consecutive sequences")
          assert(b._4 == a._4 + a._5, s"doc $doc spans must tile without gaps")
        case _ =>
      }
    }
    // per sequence: spans tile [0, L) exactly; only the last sequence may
    // be partial
    val maxSeq = rows.map(_._2).max
    rows.groupBy(_._2).foreach { case (seq, spans) =>
      val s = spans.sortBy(_._3)
      assert(s.head._3 == 0L, s"sequence $seq must start at seq_off 0")
      s.sliding(2).foreach {
        case Array(a, b) =>
          assert(b._3 == a._3 + a._5, s"sequence $seq spans must tile without gaps")
        case _ =>
      }
      val filled = s.last._3 + s.last._5
      if (seq < maxSeq) assert(filled == L, s"sequence $seq must hold exactly $L tokens")
      else assert(filled <= L, s"final sequence may be partial, never over-full")
    }
  }

  test("q162 closed-form interleave position ≡ global row_number on random inputs") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val gen = Gen.nonEmptyListOf(for {
      src <- Gen.oneOf("s1", "s2", "s3", "s4")
      quality <- Gen.chooseNum(0L, 50L) // duplicates force rank tiebreaks
    } yield (src, quality))
    samples(gen, 8).foreach { case (seed, rows) =>
      val d = rows.zipWithIndex
        .map { case ((src, ql), i) => (i.toLong, src, ql) }
        .toDF("doc_id", "source", "quality")
        .withColumn("r", row_number().over(
          Window.partitionBy("source")
            .orderBy(col("quality").desc, col("doc_id"))).cast("long"))
      val closed = graft.operators.Curation.interleavePositions(d)
        .select("doc_id", "global_pos").collect()
        .map(x => x.getLong(0) -> x.getLong(1)).toMap
      val global = d
        .withColumn("pos", row_number().over(
          Window.orderBy(col("r"), col("source"))).cast("long"))
        .select("doc_id", "pos").collect()
        .map(x => x.getLong(0) -> x.getLong(1)).toMap
      assert(closed == global, s"seed=$seed")
    }
  }

  test("q158 mask BFS census ≡ per-seed scalar BFS on random directed graphs") {
    import spark.implicits._
    val gen = for {
      n <- Gen.chooseNum(3, 14)
      edges <- Gen.listOf(for {
        a <- Gen.chooseNum(0L, (n - 1).toLong)
        b <- Gen.chooseNum(0L, (n - 1).toLong)
      } yield (a, b))
      rounds <- Gen.chooseNum(1, 3)
      nSeeds <- Gen.chooseNum(1, n)
    } yield (n, edges.distinct, rounds, nSeeds)
    samples(gen, 8).foreach { case (seed, (n, edges, rounds, nSeeds)) =>
      val verts = (0L until n.toLong).toDF("id")
      val e = edges.toDF("src", "dst")
      val seeds = (0L until nSeeds.toLong).zipWithIndex
        .map { case (id, b) => (id, b) }.toDF("id", "bit")
      val got = graft.operators.TextRank
        .multiSourceBfsCensus(verts, e, seeds, rounds)
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      // scalar truth: forward-reachability frontier per seed
      val adj = edges.groupBy(_._1).map { case (s0, es) => s0 -> es.map(_._2).toSet }
      var reached: Map[Long, Set[Long]] =
        (0L until nSeeds.toLong).map(s0 => s0 -> Set(s0)).toMap
      val expected = scala.collection.mutable.Map(0 -> reached.values.map(_.size).sum.toLong)
      for (h <- 1 to rounds) {
        reached = reached.map { case (s0, vs) =>
          s0 -> (vs ++ vs.flatMap(v => adj.getOrElse(v, Set.empty)))
        }
        expected(h) = reached.values.map(_.size).sum.toLong
      }
      assert(got == expected.toMap, s"seed=$seed n=$n rounds=$rounds")
    }
  }

  test("q188 sliding chunks: full coverage, exact overlap, lossless reconstruction on random docs") {
    import spark.implicits._
    val (l, s) = (64, 48)
    val rnd = new scala.util.Random(31)
    // token counts straddling every edge: < L, exactly L, multiples of
    // S, off-by-one around each boundary
    val sizes = Seq(1, 2, 47, 48, 49, 63, 64, 65, 96, 112, 113, 160, 161) ++
      Seq.fill(20)(1 + rnd.nextInt(400))
    val docs = sizes.zipWithIndex.map { case (n, i) =>
      (i.toLong, (0 until n).map(j => s"t${i}_$j").mkString(" "), "en",
        "src0", n.toLong)
    }
    val dir = java.nio.file.Files.createTempDirectory("chunk_prop").toString
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .repartition(1).write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val chunks = SparkEntry.queries("q188_sliding_chunks")(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3),
        r.getString(4)))
      .groupBy(_._1)
    docs.foreach { case (id, text, _, _, _) =>
      val toks = text.split(" ")
      val n = toks.length
      val cs = chunks(id).sortBy(_._2)
      val expectedChunks = math.max((n - l + s - 1) / s, 0) + 1
      assert(cs.length == expectedChunks, s"doc $id n=$n: ${cs.length}")
      cs.zipWithIndex.foreach { case ((_, k, start, nc, txt), i) =>
        assert(k == i && start == i * s)
        assert(nc == math.min(l, n - start), s"doc $id chunk $k len")
        assert(txt == toks.slice(start, start + nc).mkString(" "),
          s"doc $id chunk $k content")
      }
      // coverage: last chunk reaches the end; consecutive overlap L - S
      val last = cs.last
      assert(last._3 + last._4 == n, s"doc $id tail uncovered")
      if (cs.length > 1)
        assert(cs.init.forall(_._4 == l),
          s"doc $id: only the last chunk may run short")
    }
  }

  test("BMP codec: decode inverts encode for arbitrary dimensions and pixel planes") {
    val dimGen = for {
      w <- Gen.chooseNum(1, 17) // crosses every stride-padding residue
      h <- Gen.chooseNum(1, 13)
      seed <- Gen.chooseNum(0, 1000)
    } yield (w, h, seed)
    samples(dimGen, 60).foreach { case (_, (w, h, seed)) =>
      val pixels = Array.tabulate(w * h * 3)(i => ((i * 31 + seed) % 256).toByte)
      val decoded = graft.operators.BmpCodec.decode(
        graft.operators.BmpCodec.encode(pixels, w, h))
      assert(decoded.isDefined, s"decode failed at ${w}x$h")
      val d = decoded.get
      assert(d.width == w && d.height == h && d.channels == 3,
        s"dims ${d.width}x${d.height} != ${w}x$h")
      assert(d.pixels.sameElements(pixels), s"pixel plane differs at ${w}x$h")
    }
  }

  test("PNG codec: decode inverts encode for arbitrary dimensions (lossless javax.imageio path)") {
    val dimGen = for {
      w <- Gen.chooseNum(1, 17)
      h <- Gen.chooseNum(1, 13)
      seed <- Gen.chooseNum(0, 1000)
    } yield (w, h, seed)
    samples(dimGen, 40).foreach { case (_, (w, h, seed)) =>
      val pixels = Array.tabulate(w * h * 3)(i => ((i * 31 + seed) % 256).toByte)
      val decoded = graft.operators.PngCodec.decode(
        graft.operators.PngCodec.encode(pixels, w, h))
      assert(decoded.isDefined, s"decode failed at ${w}x$h")
      val d = decoded.get
      assert(d.width == w && d.height == h && d.channels == 3,
        s"dims ${d.width}x${d.height} != ${w}x$h")
      assert(d.pixels.sameElements(pixels), s"pixel plane differs at ${w}x$h")
    }
  }
}
