package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Behavioral tests for the round-6 operators: BPE pair stats, BM25
  * ranking, CMS heavy hitters, and SemDeDup. Planted corpora pin the
  * exact statistics; the real-testdata checks pin the estimator
  * guarantees (CMS one-sided error, SemDeDup vs unclustered dedup).
  */
class Round6OpsSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def run(name: String, d: String) =
    SparkEntry.queries(name)(spark, d)

  // ---- planted documents corpus -------------------------------------

  private lazy val docsDir: String = {
    import spark.implicits._
    val d = Files.createTempDirectory("graft-r6-docs").toString
    // "abab" x3 + "ab" x1: pairs ab=7 (2*3+1), ba=3. "data query" doc
    // drives BM25: doc 0 has both terms, doc 1 one, doc 2 none.
    val docs = Seq(
      (0L, "data query abab abab"),
      (1L, "data abab ab"),
      (2L, "nothing relevant here"),
    )
    docs.map { case (i, t) => (i, t, "en", s"src$i", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$d/documents.parquet")
    d
  }

  private lazy val entDir: String = {
    import spark.implicits._
    val d = Files.createTempDirectory("graft-r6-ent").toString
    val docs = Seq(
      (0L, "aaaaaaaa"),            // single symbol -> H = 0
      (1L, "abababab"),            // two equal symbols -> H = 1
      (2L, "aabb##%%"),            // a,b in alphabet; #,% pool in 'other'
      (3L, "abZ\u00e9"),           // Z and 2-byte e-acute: 'other' = 2 code points
    )
    docs.map { case (i, t) => (i, t, "en", s"src$i", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$d/documents.parquet")
    d
  }

  test("q_entropy: planted distributions hit exact Shannon values; 'other' pools") {
    val df = run("q_entropy", entDir)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("regexp_replace"), s"per-character regex pass in plan:\n$plan")
    val collected = df.collect()
    val rows = collected.map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(math.abs(rows(0L) - 0.0) < 1e-6, s"uniform single char, got ${rows(0L)}")
    assert(math.abs(rows(1L) - 1.0) < 1e-6, s"two equal symbols, got ${rows(1L)}")
    // doc 2: a=2/8, b=2/8, other=4/8 -> H = 2*(1/4*2) + 1/2*1 = 1.5
    assert(math.abs(rows(2L) - 1.5) < 1e-6,
      s"out-of-alphabet chars must pool into one bucket, got ${rows(2L)}")
    // doc 3: a=1/4, b=1/4, other=2/4 (code points, not bytes) -> H = 1.5
    assert(collected.find(_.getLong(0) == 3L).get.getLong(1) == 4L)
    assert(math.abs(rows(3L) - 1.5) < 1e-6,
      s"'other' must count code points, got ${rows(3L)}")
  }

  test("q_bpe_pairs counts adjacent pairs weighted by word frequency") {
    val rows = run("q_bpe_pairs", docsDir).collect()
      .map(r => r.getString(1) -> r.getLong(2)).toMap
    // vocab: data(2) query(1) abab(3) ab(1) nothing(1) relevant(1) here(1)
    // "abab": pairs ab,ba,ab -> ab 2/word; "ab": ab 1. ab = 2*3+1 = 7.
    assert(rows("ab") == 7L, s"ab pair count, got $rows")
    assert(rows("ba") == 3L, s"ba pair count, got $rows")
    // ranks are dense from 1 and ordered by count desc.
    val ranked = run("q_bpe_pairs", docsDir).collect()
      .map(r => (r.getLong(0), r.getLong(2)))
    assert(ranked.map(_._1).toSeq == (1L to ranked.length).toSeq)
    assert(ranked.sortBy(_._1).map(_._2).reverse.sorted.sameElements(
      ranked.map(_._2).sorted))
  }

  test("q_bm25 ranks the doc containing more query terms first") {
    val rows = run("q_bm25", docsDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // Only docs 0 and 1 contain query terms; doc 0 has data+query.
    assert(rows.map(_._2).toSet == Set(0L, 1L), s"got $rows")
    val byDoc = rows.map(r => r._2 -> r._3).toMap
    assert(byDoc(0L) > byDoc(1L),
      s"doc 0 (two query terms) must outrank doc 1, got $byDoc")
    assert(rows.find(_._1 == 1L).get._2 == 0L)
  }

  test("q_heavy_hitters: CMS estimate is one-sided (est >= exact) and top-10 exact") {
    val rows = run("q_heavy_hitters", sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(rows.length == 10)
    rows.foreach { case (term, exact, est) =>
      assert(est >= exact, s"CMS must never underestimate: $term $exact $est")
    }
    // Exact counts must match an independent computation of the top-10.
    import org.apache.spark.sql.functions._
    val expected = Tables.documents(spark, sf)
      .select(explode(split(lower(col("text")), " ", -1)).as("w"))
      .groupBy("w").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("w")).limit(10).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.foreach { case (term, exact, _) =>
      assert(expected(term) == exact, s"$term exact count drifted")
    }
  }

  test("q_chunk: stride windows cover every token; overlap and hashes are exact") {
    import org.apache.spark.sql.functions._
    val rows = run("q_chunk", sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
    val tokCounts = Tables.documents(spark, sf)
      .select(col("doc_id"), size(split(lower(col("text")), " ", -1)).cast("long").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val byDoc = rows.groupBy(_._1)
    assert(byDoc.keySet == tokCounts.keySet, "every doc chunks")
    byDoc.foreach { case (d, cs) =>
      val sorted = cs.sortBy(_._2)
      // chunk ids dense from 0, starts at stride multiples
      assert(sorted.map(_._2).toSeq == (0L until cs.length).toSeq, s"doc $d")
      sorted.foreach { c => assert(c._3 == c._2 * 48, s"doc $d start") }
      // every chunk is exactly min(chunkSize, n - start) tokens — full
      // until the doc tail (with stride < size, the last FEW chunks
      // may be short, not just the last one)
      sorted.foreach(c =>
        assert(c._4 == math.min(64L, tokCounts(d) - c._3), s"doc $d chunk ${c._2}"))
      assert(cs.map(_._5).forall(_.length == 32), "md5 hex hashes")
    }
  }

  test("q_cooccur: PMI ranks supported pairs, every pair meets min support") {
    val rows = run("q_cooccur", sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3), r.getDouble(4)))
    assert(rows.length == 20)
    assert(rows.map(_._1).toSeq == (1L to 20L).toSeq)
    rows.foreach { case (_, wa, wb, n, _) =>
      assert(n >= 20L, s"min support violated: ($wa,$wb)=$n")
      assert(wa <= wb, "pairs must be unordered-normalized")
    }
    // ranks descend by pmi
    assert(rows.sortBy(_._1).map(_._5).reverse.sorted.sameElements(rows.map(_._5).sorted))
  }

  private lazy val phashDir: String = {
    import spark.implicits._
    val d = Files.createTempDirectory("graft-r6-phash").toString
    // len-32 payloads sample every byte. A: low half 'a'(97), high
    // half 'A'(65) -> sign bits 0..15. B: one byte perturbed, same
    // side of the mean -> identical signature (hamming 0). C: the
    // inverted pattern -> both bands differ, never a candidate.
    val a = "a" * 16 + "A" * 16
    val b = "a" * 8 + "b" + "a" * 7 + "A" * 16
    val c = "A" * 16 + "a" * 16
    Seq((0L, a), (1L, b), (2L, c))
      .map { case (i, t) => (i, t, "en", s"src$i", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$d/documents.parquet")
    d
  }

  test("q_phash_dup: locally perturbed payload still matches; inverted payload never candidates") {
    val rows = run("q_phash_dup", phashDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.toSeq == Seq((0L, 1L, 0L)),
      s"expected only (A,B) at hamming 0, got ${rows.toSeq}")
  }

  // ---- planted embeddings corpus ------------------------------------

  private lazy val embDir: String = {
    import spark.implicits._
    val d = Files.createTempDirectory("graft-r6-emb").toString
    // 64-dim. Vectors 0..7 seed the cells (orthogonal axes); vectors
    // 20/21 duplicate vector 2's direction -> same cell, cosine 1.0
    // against seed 2 (the lowest id) -> both drop. Vector 30 shares
    // cell 3 with seed 3 at cosine 1.0 -> drops. Vector 40 is an
    // even mix of all axes: ties to cell 0, but cosine to seed 0 is
    // 1/8 < threshold -> keeps despite sharing the cell.
    def axis(i: Int, scale: Float): Array[Float] = {
      val a = Array.fill(64)(0.0f); a(i) = scale; a
    }
    val rows =
      (0 until 8).map(i => (i.toLong, axis(i, 1.0f), i)) ++
        Seq(
          (20L, axis(2, 2.0f), 2), (21L, axis(2, 3.0f), 2),
          (30L, axis(3, 5.0f), 3),
          (40L, Array.fill(64)(0.1f), 0))
    rows.toDF("vec_id", "embedding", "label")
      .coalesce(1).write.parquet(s"$d/embeddings.parquet")
    d
  }

  test("q_semdedup drops within-cell near-duplicates, keeps the lowest id") {
    val rows = run("q_semdedup", embDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // 20/21 share cell 2 with seed 2 (cosine 1.0 to it): both drop.
    assert(rows(2L)._2 == 1L, s"seed 2 (lowest id) must keep, got $rows")
    assert(rows(20L)._2 == 0L && rows(20L)._1 == 2L, s"got ${rows(20L)}")
    assert(rows(21L)._2 == 0L && rows(21L)._1 == 2L, s"got ${rows(21L)}")
    // Same-direction non-seed drops against its cell's seed too.
    assert(rows(30L)._2 == 0L && rows(30L)._1 == 3L, s"got ${rows(30L)}")
    // Sharing a cell is NOT enough to drop: the mixed vector sits in
    // cell 0 but at cosine 1/8 to seed 0 it must survive.
    assert(rows(40L)._2 == 1L && rows(40L)._1 == 0L, s"got ${rows(40L)}")
    (0 until 8).foreach(i => assert(rows(i.toLong)._2 == 1L, s"seed $i"))
  }

  test("q_semdedup never drops across cells (locality contract)") {
    import org.apache.spark.sql.functions._
    val out = run("q_semdedup", sf)
    val dropped = out.filter(col("keep") === 0).count()
    val cells = out.select(countDistinct(col("cell_id"))).head().getLong(0)
    assert(cells > 1, "testdata must spread over multiple cells")
    // Every dropped vec has a lower-id neighbor in the SAME cell at
    // cosine >= threshold — verified by recomputing membership.
    val byCell = out.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val cellOf = byCell.map(r => r._1 -> r._2).toMap
    assert(byCell.filter(_._3 == 0L).forall { case (v, c, _) =>
      byCell.exists(o => o._1 < v && o._2 == c)
    }, "a dropped vector must have a lower-id same-cell neighbor")
    assert(dropped == byCell.count(_._3 == 0L))
  }
}
