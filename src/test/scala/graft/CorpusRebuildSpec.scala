package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, SuffixRank}

/** Memoized-artifact REBUILD path (r7 verdict task 7): regenerating a
  * corpus in place must make every consumer family rebuild from the new
  * content — not serve the stale memo table — and must garbage-collect
  * the superseded table (location AND catalog entry). The staleness
  * half rides on [[graft.operators.CorpusKey]]'s content fingerprint;
  * the cleanup half on its prepareBuild sweep. Exercised end-to-end for
  * two families (cluster map via q61, suffix ranks via q111); all six
  * families share the same tableName + prepareBuild code path.
  */
class CorpusRebuildSpec extends AnyFunSuite with SparkSuite {

  private val warehouse = Files.createTempDirectory("rebuild_wh").toString

  override protected def sparkConf = Map("spark.sql.warehouse.dir" -> warehouse)

  /** Writes a documents.parquet of near-dup pairs derived from `tag`. */
  private def writeCorpus(dir: String, tag: String, nDocs: Int): Unit = {
    import spark.implicits._
    val docs = (0L until nDocs.toLong).map { id =>
      val basis = s"corpus $tag shared run text alpha beta gamma delta " +
        s"epsilon zeta eta theta iota kappa " + ("pad " * (id % 3).toInt)
      // consecutive ids form near-dup pairs; a per-doc suffix keeps them
      // from being exact dups
      val text = basis + s" doc ${id / 2} tail${if (id % 2 == 0) "" else " x"}"
      (id, text, "en", s"src${id % 2}", text.length.toLong)
    }
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .repartition(1)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }

  private def whTables(stemPrefix: String): Seq[String] =
    new java.io.File(warehouse).listFiles().toSeq
      .map(_.getName).filter(_.startsWith(stemPrefix)).sorted

  test("regenerated corpus rebuilds cluster map and suffix ranks; superseded tables are swept") {
    val dir = Files.createTempDirectory("rebuild_corpus").toString
    writeCorpus(dir, "first", 12)

    val cm1 = Dedup.queries("q61_minhash_dedup")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sr1 = SuffixRank.queries("q111_suffix_ranks")(spark, dir)
      .collect().length
    val cmTables1 = whTables("graft_cluster_map_")
    val srTables1 = whTables("graft_suffix_ranks_")
    assert(cmTables1.size == 1 && srTables1.size == 1)

    // regenerate IN PLACE with different content (more docs, new text)
    writeCorpus(dir, "second-generation", 18)

    val cm2 = Dedup.queries("q61_minhash_dedup")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sr2 = SuffixRank.queries("q111_suffix_ranks")(spark, dir)
      .collect().length
    // fresh results: the new corpus has 18 docs, the old map had 12 rows
    assert(cm2.size == 18, s"stale cluster map served: ${cm2.size} rows")
    assert(cm2 != cm1)
    assert(sr2 != sr1, "stale suffix ranks served (identical row count)")

    // superseded sweep: exactly one table per family remains, and it is
    // NOT the first-generation one (location and catalog both)
    val cmTables2 = whTables("graft_cluster_map_")
    val srTables2 = whTables("graft_suffix_ranks_")
    assert(cmTables2.size == 1, s"leaked cluster-map tables: $cmTables2")
    assert(srTables2.size == 1, s"leaked suffix-rank tables: $srTables2")
    assert(cmTables2 != cmTables1 && srTables2 != srTables1)
    assert(!spark.catalog.tableExists(cmTables1.head))
    assert(!spark.catalog.tableExists(srTables1.head))
  }

  test("catalog-less leftover location (fresh JVM) is replaced, not an error") {
    // simulate SuffixRank.scala's warehouse-cleanup branch: the table
    // dir survives from a "previous JVM" but the in-memory catalog has
    // no entry — the build must delete and recreate, not throw
    // LOCATION_ALREADY_EXISTS
    val dir = Files.createTempDirectory("rebuild_corpus2").toString
    writeCorpus(dir, "leftover", 8)
    val n1 = SuffixRank.queries("q111_suffix_ranks")(spark, dir).collect().length
    val table = whTables("graft_suffix_ranks_").filter(_.contains(
      dir.replaceAll("[^a-zA-Z0-9]+", "_").takeRight(20).toLowerCase)).head
    // drop the catalog entry but leave the files — the fresh-JVM state
    spark.sql(s"DROP TABLE `$table`")
    val loc = new java.io.File(warehouse, table)
    loc.mkdirs()
    Files.write(loc.toPath.resolve("orphan.bin"), Array[Byte](1, 2, 3))
    val n2 = SuffixRank.queries("q111_suffix_ranks")(spark, dir).collect().length
    assert(n2 == n1)
    assert(!Files.exists(loc.toPath.resolve("orphan.bin")))
  }

  test("legacy pre-p-segment artifact names are swept by the first new-scheme build (r9 advice)") {
    val dir = Files.createTempDirectory("rebuild_corpus3").toString
    writeCorpus(dir, "legacy-migration", 8)
    // fabricate an artifact memoized under the r7-era naming
    // <prefix>_<dirSuffix>_<fp> — no `_p<pathhash>` segment — which the
    // stem-anchored sibling sweep alone would never match
    val newName =
      graft.operators.CorpusKey.tableName(spark, "graft_suffix_ranks", dir)
    val stem = newName.substring(0, newName.lastIndexOf('_') + 1)
    val legacyStem = stem.replaceFirst("_p[0-9a-f]{1,8}_$", "_")
    assert(legacyStem != stem, s"p-segment missing from $newName")
    val legacy = legacyStem + "deadbeef"
    spark.range(3).write.saveAsTable(legacy)
    assert(new java.io.File(warehouse, legacy).exists)

    val n = SuffixRank.queries("q111_suffix_ranks")(spark, dir).collect().length
    assert(n > 0)
    assert(!spark.catalog.tableExists(legacy),
      "legacy catalog entry not swept")
    assert(!new java.io.File(warehouse, legacy).exists,
      "legacy warehouse location not swept")
  }
}
