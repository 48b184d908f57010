package graft

import org.apache.spark.sql.types._

/** Driver-contract smoke: entry() returns rows at sf0.001, and every
  * declared oracle key has a query (the t2 gate pairs them). */
class SparkEntrySpec extends SparkSpec {

  test("entry flagship query returns rows at sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracle key has a matching query; names are unique") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert(o.subsetOf(q), s"oracles without queries: ${o.diff(q)}")
  }

  // One pass builds each query once and keeps what the tests below read: a
  // rebuild re-runs its eager checkpoints and fixpoint probes. Temp views
  // are dropped before each build, so the views listed after it are the
  // ones the build registered; the conf diff is taken around the build.
  private case class Built(name: String, rows: Long, schema: StructType,
                           views: Set[String], confChanged: Set[String])
  private lazy val built: Seq[Built] = {
    val dir = "/root/testdata/sf0.001"
    def tempViews() =
      spark.catalog.listTables().collect().filter(_.isTemporary).map(_.name).toSet
    SparkEntry.queries.toSeq.map { case (name, fn) =>
      tempViews().foreach(spark.catalog.dropTempView)
      val confBefore = spark.conf.getAll
      val df = fn(spark, dir)
      val confAfter = spark.conf.getAll
      val confChanged = (confBefore.keySet ++ confAfter.keySet)
        .filter(k => confBefore.get(k) != confAfter.get(k))
      Built(name, df.count(), df.schema, tempViews(), confChanged)
    }
  }

  test("all queries run and return deterministic row counts at sf0.001") {
    built.foreach(b => assert(b.rows >= 0, s"${b.name} failed"))
  }

  test("declared-output contract: every query column is an atomic type") {
    // The driver's oracle comparer lexsorts columns and hashes cell values
    // with pandas — array/map/struct cells raise `unhashable numpy.ndarray`
    // and the query ships unverified. Nested payloads must be serialized to
    // a string (q_inverted_index postings) or exploded to atomic rows.
    val offenders = built.flatMap { b =>
      b.schema.fields.collect {
        case f if f.dataType.isInstanceOf[ArrayType] ||
                  f.dataType.isInstanceOf[MapType] ||
                  f.dataType.isInstanceOf[StructType] =>
          s"${b.name}.${f.name}: ${f.dataType.simpleString}"
      }
    }
    assert(offenders.isEmpty,
      s"non-atomic declared output columns (driver comparer cannot hash " +
        s"these):\n  ${offenders.mkString("\n  ")}")
  }

  test("session hygiene: only the SQL-surface queries register views; no query changes a conf") {
    // Views and confs are session-global: whatever a build leaves behind
    // every later query in the session inherits. Only queries whose point
    // is the SQL surface may register views, and each entry must still do.
    val viewQueries = Map(
      "q_corr_subquery" -> "a correlated scalar subquery in SQL text over a customer view",
      "q_sql_q5" -> "TPC-H Q5 as raw SQL text over six table views",
      "q_lateral_topk" -> "a LATERAL subquery in SQL text over three table views")
    val registering = built.filter(_.views.nonEmpty).map(b => b.name -> b.views).toMap
    val unlisted = registering -- viewQueries.keySet
    val stale = viewQueries.keySet -- registering.keySet
    assert(unlisted.isEmpty, s"queries registering temp views: $unlisted")
    assert(stale.isEmpty, s"listed as registering views but none registered: $stale")
    val confs = built.filter(_.confChanged.nonEmpty).map(b => b.name -> b.confChanged)
    assert(confs.isEmpty, s"queries that leave a SQL conf changed: ${confs.mkString(", ")}")
  }
}
