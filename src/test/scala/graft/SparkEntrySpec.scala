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

  // One pass builds each query once and keeps its row count and schema for
  // the two tests below: a rebuild re-runs its eager checkpoints and
  // fixpoint probes.
  private lazy val built: Seq[(String, Long, StructType)] = {
    val dir = "/root/testdata/sf0.001"
    SparkEntry.queries.toSeq.map { case (name, fn) =>
      val df = fn(spark, dir)
      (name, df.count(), df.schema)
    }
  }

  test("all queries run and return deterministic row counts at sf0.001") {
    built.foreach { case (name, n, _) => assert(n >= 0, s"$name failed") }
  }

  test("declared-output contract: every query column is an atomic type") {
    // The driver's oracle comparer lexsorts columns and hashes cell values
    // with pandas — array/map/struct cells raise `unhashable numpy.ndarray`
    // and the query ships unverified. Nested payloads must be serialized to
    // a string (q_inverted_index postings) or exploded to atomic rows.
    val offenders = built.flatMap { case (name, _, schema) =>
      schema.fields.collect {
        case f if f.dataType.isInstanceOf[ArrayType] ||
                  f.dataType.isInstanceOf[MapType] ||
                  f.dataType.isInstanceOf[StructType] =>
          s"$name.${f.name}: ${f.dataType.simpleString}"
      }
    }
    assert(offenders.isEmpty,
      s"non-atomic declared output columns (driver comparer cannot hash " +
        s"these):\n  ${offenders.mkString("\n  ")}")
  }
}
