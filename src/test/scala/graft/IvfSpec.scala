package graft

import graft.ml.IvfIndex
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** IVF ANN pinned by recall against the exact brute-force baseline.
  *
  * Two quantizers share the IVF search shape (broadcast probe side +
  * cell equi-join, never all-pairs):
  *  - the LEARNED k-means path (ml/IvfIndex) — engine-specific output,
  *    so recall here is its only correctness gate;
  *  - the DETERMINISTIC hyperplane-cell path (registry q49) — also
  *    hash-checked against DuckDB by the driver; the recall bound here
  *    documents its approximation quality.
  *
  * All inputs are fixed (seed 42, sf0.001 = 500 clustered vectors, 5
  * queries x top-3 = 15 true pairs), so each recall below is an exact
  * reproducible number, not a statistical bound. Measured sweep:
  * nlist=16 nprobe=3 -> 0.733, nlist=8 nprobe=4 -> 0.933,
  * nlist=16 nprobe=12 -> 1.0; deterministic q49 (16 cells, 5 probes)
  * -> 0.600. The 500-vector corpus over-partitions at nlist=16, which
  * is why the >=0.9 operating point uses nlist=8.
  */
class IvfSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sfDir = "/root/testdata/sf0.001"

  private lazy val brute =
    SparkEntry.queries("q37_knn_bruteforce_cosine")(spark, sfDir)
      .where(col("rank") <= 3)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  private def recallOf(ann: Set[(Long, Long)]): Double = {
    assert(brute.nonEmpty)
    ann.intersect(brute).size.toDouble / brute.size
  }

  private def kmeansRecall(nlist: Int, nprobe: Int): Double = {
    val (cells, centroids) = IvfIndex.buildIndex(
      spark, Tables.embeddings(spark, sfDir), nlist = nlist)
    val ivf = IvfIndex.searchTopK(
        cells, centroids, pmod(col("vec_id"), lit(100)) === 0,
        k = 3, nprobe = nprobe)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    recallOf(ivf)
  }

  test("learned k-means IVF at nlist=8 nprobe=4 has top-3 recall >= 0.9") {
    val recall = kmeansRecall(nlist = 8, nprobe = 4)
    assert(recall >= 0.9, s"recall $recall (measured stable value: 0.933)")
  }

  test("probing more cells monotonically recovers the exhaustive result") {
    val r3 = kmeansRecall(nlist = 16, nprobe = 3)
    val r12 = kmeansRecall(nlist = 16, nprobe = 12)
    assert(r3 >= 0.7, s"nprobe=3 recall $r3 (measured stable value: 0.733)")
    assert(r12 == 1.0, s"nprobe=12 recall $r12 — 12/16 cells must cover every true pair")
  }

  test("buildOrLoad persists the coarse quantizer: a loaded model assigns and searches identically") {
    val emb = Tables.embeddings(spark, sfDir)
    val path = java.nio.file.Files
      .createTempDirectory("graft_ivf_").toString + "/km"
    def run(): (Seq[(Long, Int)], Set[(Long, Long)]) = {
      val (cells, centroids) = IvfIndex.buildOrLoad(spark, emb, nlist = 8, path)
      (cells.select("vec_id", "cell_id").collect()
         .map(r => (r.getLong(0), r.getInt(1))).sortBy(_._1).toSeq,
       IvfIndex.searchTopK(cells, centroids,
           pmod(col("vec_id"), lit(100)) === 0, k = 3, nprobe = 4)
         .select("query_id", "neighbor_id")
         .collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
    }
    val first = run()  // trains and saves
    assert(new java.io.File(path).isDirectory, "model artifact must exist")
    val second = run() // must LOAD (same assignments and results)
    assert(second == first,
      "a loaded quantizer must assign cells and rank neighbors identically")
  }

  test("incremental cell lists (CellIndex) ≡ one-shot assignment, learned quantizer") {
    // the frozen loaded model makes assignment a pure per-row map, so
    // batch-appended maintained lists must equal the one-shot transform
    // bit-for-bit — the learned-path counterpart of q114's oracle gate
    val emb = Tables.embeddings(spark, sfDir)
    val base = java.nio.file.Files.createTempDirectory("graft_cellidx_").toString
    val (oneShot, _) = IvfIndex.buildOrLoad(spark, emb, nlist = 8, s"$base/km")
    val idx = graft.operators.CellIndex(s"$base/index")
    (0 to 3).foreach { k =>
      idx.compactBefore(spark, k, maxDeltas = 2)
      val (batchCells, _) =
        IvfIndex.buildOrLoad(spark, emb.where(pmod(col("vec_id"), lit(4)) === k),
          nlist = 8, s"$base/km") // loads the frozen model, pure map
      idx.appendAssigned(spark,
        batchCells.select(col("vec_id"), col("cell_id").as("cell")),
        batchId = k)
    }
    val maintained = idx.cells(spark)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    val inline = oneShot.select("vec_id", "cell_id")
      .collect().map(r => (r.getLong(0), r.getInt(1).toLong)).sortBy(_._1).toSeq
    assert(maintained == inline,
      "maintained inverted lists must equal the one-shot assignment")
  }

  test("deterministic hyperplane-cell IVF (q49) top-3 recall >= 0.6") {
    val det = SparkEntry.queries("q49_ann_ivf")(spark, sfDir)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = recallOf(det)
    assert(recall >= 0.6,
      s"recall $recall (deterministic; Hamming-<=2 multi-probe over the " +
        "decorrelated cells)")
  }
}
