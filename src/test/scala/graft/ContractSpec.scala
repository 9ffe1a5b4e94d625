package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Driver-contract invariants that a typo would otherwise surface only in
  * the (slow, external) correctness gate: registry names are unique, and
  * the no-oracle set is exactly the four documented exceptions.
  */
class ContractSpec extends AnyFunSuite {

  test("registry names are unique") {
    val dups = SparkEntry.registry.groupBy(_.name).collect {
      case (name, qs) if qs.length > 1 => name }
    assert(dups.isEmpty, s"registered more than once: $dups")
  }

  test("the no-oracle set is exactly the documented four") {
    val noOracle = SparkEntry.registry.filter(_.oracle.isEmpty).map(_.name).toSet
    assert(noOracle == Set("qs3_ann_ivf",
      "qx1_extract_text", "qx2_extract_stats", "qx3_overlay_specs"),
      s"undocumented no-oracle queries: $noOracle")
  }

  test("only Fixpoint mutates the session conf among the ops modules") {
    // the loops' shuffle-width/AQE scope is the one audited place that
    // flips session-wide settings (see Fixpoint's single-query precondition)
    val dir = java.nio.file.Paths.get("src/main/scala/graft/ops")
    val files = java.nio.file.Files.list(dir).iterator().asScala.toSeq
      .filter(_.toString.endsWith(".scala"))
    assert(files.exists(_.endsWith("Fixpoint.scala")), files)
    val offenders = files.filterNot(_.endsWith("Fixpoint.scala"))
      .filter(f => new String(java.nio.file.Files.readAllBytes(f), "UTF-8")
        .contains("conf.set("))
      .map(_.getFileName.toString)
    assert(offenders.isEmpty, s"session conf mutated outside Fixpoint: $offenders")
  }

  test("oracle SQL only references the driver-provided tables") {
    val tables = Set("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
    val fromJoin = "(?i)(?:FROM|JOIN)\\s+([a-z_][a-z0-9_]*)".r
    for (SparkEntry.Query(name, _, Some(sql)) <- SparkEntry.registry) {
      // collect base-relation identifiers; CTE names defined in the SQL
      // itself are legal too
      // CTE heads: `name AS (`, the recursive `name(col, ...) AS (` form,
      // and DuckDB's `name AS MATERIALIZED (` (qg7's anti-inlining guard)
      val cteNames = ("(?i)(?:WITH(?:\\s+RECURSIVE)?|,)\\s+([a-z_][a-z0-9_]*)" +
        "\\s*(?:\\([^)]*\\))?\\s+AS\\s*(?:MATERIALIZED\\s*)?\\(").r
        .findAllMatchIn(sql).map(_.group(1)).toSet
      val refs = fromJoin.findAllMatchIn(sql).map(_.group(1)).toSet
      // UNNEST is a lateral table FUNCTION (qd11's prefix-position expansion),
      // not a base relation
      val tableFns = Set("unnest", "UNNEST")
      val unknown = refs -- tables -- cteNames -- tableFns
      assert(unknown.isEmpty, s"$name references unknown relations: $unknown")
    }
  }
}
