package graft.queries

import graft.operators.Similarity
import org.scalatest.funsuite.AnyFunSuite

/** The trained-model oracle builders share their cell-assignment and PQ
  * term helpers; the SQL they emit for a fixed small model is pinned
  * byte for byte (SHA-256 of the strings the unshared builders emitted
  * for the same models). */
class PipelineOraclesSpec extends AnyFunSuite {

  private val ivf = Similarity.IvfModel(Array(Array(0.5, -1.25), Array(0.1, 2.0), Array(-3.0, 0.0)))
  private val pq = Similarity.PqModel(Array(
    Array(Array(0.1, -0.2), Array(0.3, 0.4)),
    Array(Array(-1.5, 2.25), Array(0.0, 1e-3))))

  private def sha256(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString

  test("trained-model oracle SQL is byte-identical for a fixed model") {
    val got = Map(
      "ivf" -> PipelineQueries.ivfOracle(ivf, nProbe = 4, k = 5),
      "sd" -> PipelineQueries.semanticDedupOracle(ivf, threshold = 0.3),
      "pq" -> PipelineQueries.pqOracle(pq, k = 5),
      "ivfpq" -> PipelineQueries.ivfPqOracle(ivf, pq, nProbe = 4, k = 5))
    val expected = Map(
      "ivf" -> "0fdf279ebc7fb43b7d50f2a76670fd444cf8d67331beef6893f92bdb621e8c01",
      "sd" -> "3f8726c2cc254835d8b2faa5666358a8e6989c849b13db9657128cc74640af34",
      "pq" -> "6df0e4bbba09d0116eb06882f34b5735052996a00da6d496f13d1357ff90cfeb",
      "ivfpq" -> "accf406006198e3d7554917cdde6e5e37f823c985dad6025bf82ecdcb94433d5")
    assert(got.map { case (k, v) => k -> sha256(v) } == expected)
    // the shared cell selects keep each builder's column list
    assert(got("ivf").contains("SELECT vec_id, v, nrm, 0 AS cell"))
    assert(got("ivfpq").contains("SELECT vec_id, v, 0 AS cell"))
  }
}
