package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** BPE merge TRAINING (Sennrich et al. 2016) — tokenizer induction at
  * corpus scale, one tier above q58's BPE *application*: learn the
  * top-`nMerges` byte-pair merges from the corpus word-frequency table.
  *
  * The production shape: ONE corpus pass builds the word→frequency
  * vocabulary (the only corpus-sized work — at 100 TB this is a single
  * map-side-combinable aggregation), then every training round runs on
  * the vocab table alone (bounded: |vocab| ≪ corpus). Round r:
  *
  *  1. adjacent-symbol pair counts, frequency-weighted — a vocab-sized
  *     explode + groupBy (map-side combinable);
  *  2. best pair = argmax by (count desc, left asc, right asc) —
  *     orderBy+limit 1, a TakeOrdered, never a single-partition window;
  *  3. merge the pair in every word: words are SPACED-SYMBOL STRINGS
  *     (` h i s `) and the merge is 6 fixed passes of literal
  *     `replace(s, ' a b ', ' ab ')`. replace() is leftmost
  *     non-overlapping in both engines, and each pass halves any
  *     remaining alternating chain, so 6 passes reach fixpoint for any
  *     word up to 64 symbols — and because BOTH engines run the SAME
  *     fixed passes, cross-engine equality holds unconditionally, not
  *     just at fixpoint. The best pair rides a 1-row broadcast (the
  *     q168/q199 pattern), so the merge pass is map-only.
  *
  * Each round's vocab is localCheckpointed: v_{r+1} depends on v_r twice
  * (pair counts AND the merge), and without the cut the recomputed
  * lineage doubles per round. Output: the learned merge table
  * (mrank, lhs, rhs, merged, pair_count) — exact integers and strings,
  * hash-checked against a DuckDB oracle that replays all rounds as
  * unrolled CTEs.
  */
object BpeTrain extends QueryFamily {

  private val nMerges = 8
  private val replacePasses = 6

  private def spacedSpark(tok: String): String =
    s"concat(' ', regexp_replace($tok, '(.)', '$$1 '))"
  private def spacedDuck(tok: String): String =
    s"' ' || regexp_replace($tok, '(.)', '\\1 ', 'g')"

  private def mergeExpr(passes: Int): String =
    (1 to passes).foldLeft("s") { (e, _) =>
      s"replace($e, concat(' ', a, ' ', b, ' '), concat(' ', a, b, ' '))"
    }
  private def mergeDuck(passes: Int): String =
    (1 to passes).foldLeft("s") { (e, _) =>
      s"replace($e, ' ' || a || ' ' || b || ' ', ' ' || a || b || ' ')"
    }

  /** The unrolled training chain: per rank, the 1-row best-pair frame
    * (TakeOrdered — the bounded side of every downstream crossJoin).
    * Shared by q207 (emit the merge table) and q208 (apply the merges).
    */
  private def trainedMerges(s: SparkSession, dir: String): Seq[DataFrame] = {
    val vocab0 = Synth.documents(s, dir)
      .select(explode(expr(Dedup.toks)).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy("tok").agg(count(lit(1)).as("freq"))
      .select(expr(spacedSpark("tok")).as("s"), col("freq"))
      .localCheckpoint()
    val out = Seq.newBuilder[DataFrame]
    var v = vocab0
    for (_ <- 1 to nMerges) {
      val pairs = v
        .select(col("freq"), expr("split(trim(s), ' ')").as("syms"))
        .filter(expr("size(syms) >= 2"))
        .select(col("freq"),
          explode(expr("transform(sequence(1, size(syms) - 1), " +
            "i -> struct(element_at(syms, i) as a, " +
            "element_at(syms, i + 1) as b))")).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("freq")).as("cnt"))
      // best is CHECKPOINTED once per round and every consumer — the
      // merge broadcast, q207's output union, q208's apply fold — reads
      // the 1-row checkpoint instead of re-running the pair aggregation
      // (the old TakeOrdered-per-consumer shape paid the vocab-sized agg
      // 2-3x per round). The trailing limit(1) is a no-op on a 1-row
      // frame that re-marks the subtree bounded for the plan lint (the
      // checkpoint's RDD scan alone would read as an unbounded
      // crossJoin side). v's checkpoint turns LAZY: the next round's
      // best materialization is the first action over it, so each round
      // costs exactly one job — and the last v, which no consumer
      // reads, is never computed at all.
      val best = pairs
        .orderBy(col("cnt").desc, col("a"), col("b")).limit(1)
        .localCheckpoint().limit(1)
      out += best
      v = v.crossJoin(broadcast(best.select("a", "b")))
        .select(expr(mergeExpr(replacePasses)).as("s"), col("freq"))
        .localCheckpoint(false) // v_{r+1} is read twice next round
    }
    out.result()
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q207_bpe_train" -> { (s, dir) =>
      trainedMerges(s, dir).zipWithIndex.map { case (best, i) =>
        best.select(lit(i + 1).as("mrank"), col("a").as("lhs"),
          col("b").as("rhs"), concat(col("a"), col("b")).as("merged"),
          col("cnt").as("pair_count"))
      }.reduce(_ unionByName _).orderBy("mrank")
    },

    // Apply the LEARNED tokenizer — the train→apply loop closed: every
    // DISTINCT word is segmented once (merges applied in rank order,
    // each the same fixed-pass replace as training — application and
    // training share the exact merge semantics by construction), then
    // per-doc stats come from a join back to the (doc, word)
    // occurrences: BPE token count, char count, and chars-per-token
    // fertility in integer ppm — the number that tells a pipeline
    // whether the learned vocabulary fits its corpus. Scale shape: the
    // distinct-word table is the only segmentation work (vocab-sized),
    // the join back is corpus-sized but map-side (broadcastable vocab /
    // shuffle on the word key), and the merges ride K 1-row broadcasts.
    "q208_bpe_segment" -> { (s, dir) =>
      val merges = trainedMerges(s, dir)
      val dt = Synth.documents(s, dir)
        .select(col("doc_id"), explode(expr(Dedup.toks)).as("tok"))
        .filter(col("tok") =!= "")
      val segmented = merges.foldLeft(
          dt.select("tok").distinct()
            .withColumn("s", expr(spacedSpark("tok")))) { (w, best) =>
        w.crossJoin(broadcast(best.select("a", "b")))
          .select(col("tok"), expr(mergeExpr(replacePasses)).as("s"))
      }.select(col("tok"),
        expr("size(filter(split(trim(s), ' '), x -> x <> ''))")
          .cast("long").as("wtok"))
      dt.join(segmented, "tok")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_words"),
          sum(col("wtok")).as("n_bpe_tokens"),
          sum(length(col("tok"))).as("n_chars"))
        .withColumn("chars_per_token_ppm",
          expr("n_chars * 1000000L div n_bpe_tokens"))
        .select("doc_id", "n_words", "n_bpe_tokens", "n_chars",
          "chars_per_token_ppm")
        .orderBy("doc_id")
    }
  )

  /** Shared oracle prefix: v0 + the unrolled p/best/v chain. */
  private def trainCtesDuck: String = {
    val rounds = (1 to nMerges).map { r =>
      val prev = s"v${r - 1}"
      s"""p$r AS (
         | SELECT u.a AS a, u.b AS b, cast(sum(freq) as bigint) AS cnt
         | FROM (
         |  SELECT freq, unnest(list_transform(
         |    generate_series(1, len(syms) - 1),
         |    i -> {'a': syms[i], 'b': syms[i + 1]})) AS u
         |  FROM (SELECT freq,
         |    list_filter(string_split(trim(s), ' '), x -> x <> '') AS syms
         |   FROM $prev)
         |  WHERE len(syms) >= 2)
         | GROUP BY 1, 2),
         |best$r AS (
         | SELECT a, b, cnt FROM p$r ORDER BY cnt DESC, a, b LIMIT 1),
         |v$r AS (
         | SELECT ${mergeDuck(replacePasses)} AS s, freq
         | FROM $prev, best$r)""".stripMargin
    }.mkString(",\n")
    s"""v0 AS (
       | SELECT ${spacedDuck("tok")} AS s,
       |  cast(count(*) as bigint) AS freq
       | FROM (SELECT unnest(${Dedup.dToks}) AS tok FROM documents)
       | WHERE tok <> '' GROUP BY 1),
       |$rounds""".stripMargin
  }

  def oracle: Map[String, String] = Map(
    "q207_bpe_train" -> {
      val out = (1 to nMerges)
        .map(r => s"SELECT $r AS mrank, a AS lhs, b AS rhs, " +
          s"a || b AS merged, cnt AS pair_count FROM best$r")
        .mkString("\nUNION ALL ")
      s"""WITH $trainCtesDuck
         |$out
         |ORDER BY mrank""".stripMargin
    },

    "q208_bpe_segment" -> {
      val segs = (1 to nMerges).map { r =>
        s"""seg$r AS (
           | SELECT tok, ${mergeDuck(replacePasses)} AS s
           | FROM seg${r - 1}, best$r)""".stripMargin
      }.mkString(",\n")
      s"""WITH $trainCtesDuck,
         |dt AS (
         | SELECT doc_id, tok FROM (
         |  SELECT doc_id, unnest(${Dedup.dToks}) AS tok FROM documents)
         | WHERE tok <> ''),
         |seg0 AS (
         | SELECT tok, ${spacedDuck("tok")} AS s
         | FROM (SELECT DISTINCT tok FROM dt)),
         |$segs,
         |wt AS (
         | SELECT tok, cast(len(list_filter(string_split(trim(s), ' '),
         |   x -> x <> '')) as bigint) AS wtok
         | FROM seg$nMerges)
         |SELECT dt.doc_id AS doc_id,
         | cast(count(*) as bigint) AS n_words,
         | cast(sum(wtok) as bigint) AS n_bpe_tokens,
         | cast(sum(len(tok)) as bigint) AS n_chars,
         | cast(sum(len(tok)) * 1000000 // sum(wtok) as bigint)
         |   AS chars_per_token_ppm
         |FROM dt JOIN wt USING (tok)
         |GROUP BY 1 ORDER BY doc_id""".stripMargin
    }
  )
}
