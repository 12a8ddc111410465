package graft

import graft.queries.MlQueries
import org.scalatest.funsuite.AnyFunSuite

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import scala.sys.process._

/** q101's oracle reads the codebook its own corpus's run wrote, even when
  * another corpus of the same size ran later: sf0.001 and sf0.01 both
  * hold 500 embeddings with different rows. Both runs write their
  * artifacts first; then DuckDB replays the oracle over each corpus, and
  * its artifact selection and its neighbours must be that run's own. */
class OracleArtifactSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val corpora = Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")

  private def duckdbPresent: Boolean =
    Seq("python3", "-c", "import duckdb").!(ProcessLogger(_ => ())) == 0

  /** Runs `sql` in DuckDB with `embeddings` over `sfDir`'s table; one
    * comma-joined line per row. */
  private def duck(sfDir: String, sql: String): Seq[String] = {
    val f = Files.createTempFile("graft_oracle_", ".sql")
    Files.write(f, sql.getBytes(UTF_8))
    val script =
      """import duckdb, sys
        |con = duckdb.connect()
        |con.execute(f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{sys.argv[1]}/embeddings.parquet')")
        |for r in con.sql(open(sys.argv[2]).read()).fetchall():
        |    print(",".join(str(v) for v in r))
        |""".stripMargin
    Seq("python3", "-c", script, sfDir, f.toString).!!.linesIterator.toSeq
  }

  test("q101 over two corpora of equal count: each oracle picks its run's artifact") {
    assume(corpora.forall(d => new java.io.File(s"$d/embeddings.parquet").exists),
      "needs the sf0.001 and sf0.01 test corpora")
    assume(duckdbPresent, "needs python3 with duckdb")
    val counts = corpora.map(d => Tables.embeddings(spark, d).count())
    assert(counts.distinct.size == 1, s"corpora must hold equally many rows: $counts")
    val q = SparkEntry.queries("q101_pq_learned_ann")
    val spark101 = corpora.map { d =>
      q(spark, d).select("query_id", "rank", "neighbor_id").collect()
        .map(_.toSeq.mkString(",")).toSeq
    }
    assert(spark101.distinct.size == 2, "the two corpora must give different neighbours")
    val oracle = SparkEntry.oracleSql("q101_pq_learned_ann")
    corpora.zip(spark101).foreach { case (d, got) =>
      val picked = duck(d,
        s"""SELECT COUNT(*) FROM read_parquet('/tmp/graft_q101_pq_oracle/*/*.parquet',
           |  union_by_name = true) WHERE ${MlQueries.embArtifactSql}""".stripMargin)
      assert(picked == Seq("512"), s"$d: one 8 x 64 codebook, got $picked")
      val exp = duck(d, s"SELECT query_id, rank, neighbor_id FROM ($oracle) o")
      assert(exp.sorted == got.sorted, d)
    }
  }
}
