package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import graft.queries._
import org.scalatest.funsuite.AnyFunSuite

/** The registry's contract as data: the registered names, each name's DuckDB
  * oracle string, and the order of the registry's query files. A change
  * that means to leave query behaviour alone must leave these constants
  * alone; a deliberate change to the contract updates them here.
  */
class RegistrySpec extends AnyFunSuite {

  private def sha256(parts: Seq[String]): String =
    MessageDigest.getInstance("SHA-256")
      .digest(parts.mkString.getBytes(UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString

  test("246 registered queries") {
    assert(SparkEntry.queries.size == 246)
  }

  /** Serialisation: the pairs sorted by name; each pair is
    * `name + "\u0000" + oracle + "\u0000"` with oracle =
    * `oracleSql.getOrElse(name, "-")` (trimmed, as `oracleSql` serves
    * it), concatenated and hashed as UTF-8. */
  test("every (name, oracle) pair is unchanged") {
    val pairs = SparkEntry.queries.keys.toSeq.sorted.map { n =>
      n + "\u0000" + SparkEntry.oracleSql.getOrElse(n, "-") + "\u0000"
    }
    assert(sha256(pairs) ==
      "5f4bbc4b5f4d210c89676a8f68cca7f1fa3e716292ec635d7856818168d376d4")
  }

  /** The query files in `SparkEntry`'s order; each name is followed by
    * "\n" before hashing. */
  test("every query keeps its position in its file's defs") {
    val names = Seq(RelationalQueries.defs, WindowQueries.defs,
      JoinQueries.defs, TimeSeriesQueries.defs, TextQueries.defs,
      SimilarityQueries.defs, SkewQueries.defs, ExtraQueries.defs,
      TpchQueries.defs, MlQueries.defs, PipelineQueries.defs,
      ProfileQueries.defs, MultimodalQueries.defs, FeatureQueries.defs,
      EventQueries.defs, AssocQueries.defs).flatten.map(_.name)
    assert(names.toSet == SparkEntry.queries.keySet && names.size == 246)
    assert(sha256(names.map(_ + "\n")) ==
      "6b56af0fbb037491b9f1ad047d16265f022d57ed066fd4a6df54aeab01398f90")
  }
}
