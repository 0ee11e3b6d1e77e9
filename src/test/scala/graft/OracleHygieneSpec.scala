package graft

import org.scalatest.funsuite.AnyFunSuite

/** Regression guards for the round-12 oracle-portability doctrine:
  * the eight queries that were driver-red for three rounds (hash
  * mismatches against an unknown oracle-engine version, bit-exact
  * locally) were rebuilt with every version-movable construct removed
  * from their oracle SQL. These assertions keep them that way, and
  * keep the whitespace-class fix (space-only trim on raw text vs the
  * engine's full-\s strip) from regressing anywhere.
  */
class OracleHygieneSpec extends AnyFunSuite {

  private val oracles = SparkEntry.oracleSql

  /** The rebuilt eight: integer-only closings, no engine-version
    * surface. q261 deliberately keeps the q118/q224-proven normalize
    * regex (driver-green for many rounds), so it is excluded from the
    * no-regex set but covered by the list/percentile bans.
    */
  private val rebuilt = Seq(
    "q221_mojibake", "q223_markov_accuracy", "q225_prefix_recall",
    "q226_dim_profile", "q261_nb_cv_accuracy", "q273_signup_to_purchase",
    "q287_pii_incidence", "q296_lorenz_deciles")

  test("the version-proofed oracles stay free of list aggregates, " +
    "percentile interpolation, and decimal-cast lattices") {
    rebuilt.foreach { q =>
      val sql = oracles(q)
      Seq("list_aggregate", "list_transform", "list_sum",
        "percentile_cont", "DECIMAL(18,6)").foreach { banned =>
        assert(!sql.contains(banned), s"$q oracle reintroduced $banned")
      }
    }
  }

  test("q221 and q287 oracles stay regex-free (regex character-class " +
    "semantics are regex-library-version territory)") {
    Seq("q221_mojibake", "q287_pii_incidence").foreach { q =>
      assert(!oracles(q).toLowerCase.contains("regexp"),
        s"$q oracle reintroduced a regex")
    }
  }

  test("no oracle trims RAW text with the space-only trim() — the " +
    "engine strips the full Java \\s class, so raw-text trims must " +
    "carry the explicit 6-char whitespace set") {
    val offenders = oracles.filter { case (_, sql) =>
      sql.contains("trim(text)") || sql.contains("trim(lower(text))")
    }.keys.toSeq.sorted
    assert(offenders.isEmpty,
      s"space-only raw-text trim() reintroduced in: $offenders")
  }

  test("every query has an oracle and every oracle has a query") {
    val qs = SparkEntry.queries.keySet
    val os = oracles.keySet
    assert((os -- qs).isEmpty, s"oracles without queries: ${os -- qs}")
    assert((qs -- os).isEmpty, s"queries without oracles: ${qs -- os}")
  }

  test("the query modules' key sets are pairwise disjoint and add up to " +
    "the merged maps") {
    val modules = SparkEntry.modules
    for (Seq((a, qa, oa), (b, qb, ob)) <- modules.combinations(2)) {
      assert((qa.keySet & qb.keySet).isEmpty,
        s"$a and $b both define queries ${qa.keySet & qb.keySet}")
      assert((oa.keySet & ob.keySet).isEmpty,
        s"$a and $b both define oracles ${oa.keySet & ob.keySet}")
    }
    assert(modules.map(_._2.size).sum === SparkEntry.queries.size)
    assert(modules.map(_._3.size).sum === oracles.size)
  }
}
