package graft.sources

import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The pushdown rule in isolation: which Spark filters reach a shard's
  * WHERE, and as what SQL text.
  */
class PgFederationSpec extends AnyFunSuite {

  private val types = Map("n" -> LongType, "d" -> DateType, "s" -> StringType,
    "x" -> DoubleType, "Mixed" -> LongType)

  private def push(f: Filter) = PgFederation.pushable(f, types)

  test("comparisons, IN and NOT on ordered columns are pushed") {
    assert(push(GreaterThan("n", 3L)) == Some("n > 3"))
    assert(push(In("n", Array[Any](1L, 2L))) == Some("n IN (1, 2)"))
    assert(push(Not(EqualTo("n", 3L))) == Some("NOT (n = 3)"))
    assert(push(Not(In("n", Array[Any](1L)))) == Some("NOT (n IN (1))"))
    assert(push(EqualTo("d", java.sql.Date.valueOf("2024-01-02"))) == Some("d = DATE '2024-01-02'"))
  }

  test("string = and IN are pushed; a shard may over-return, Spark filters again") {
    assert(push(EqualTo("s", "a'b")) == Some("s = 'a''b'"))
    assert(push(In("s", Array[Any]("a", "b"))) == Some("s IN ('a', 'b')"))
    assert(push(Or(EqualTo("s", "a"), GreaterThan("n", 1L))) == Some("(s = 'a') OR (n > 1)"))
  }

  test("NOT over a string predicate stays in Spark: negated, an over-return drops rows") {
    // PostgreSQL's char(n) ignores trailing blanks, citext and
    // nondeterministic collations ignore case: `=` may match rows that
    // Spark's comparison of the text does not, so `NOT =` would drop them
    assert(push(Not(EqualTo("s", "a"))).isEmpty)
    assert(push(Not(In("s", Array[Any]("a", "b")))).isEmpty)
    assert(push(Not(And(EqualTo("s", "a"), GreaterThan("n", 1L)))).isEmpty)
    assert(push(Not(Or(GreaterThan("n", 1L), In("s", Array[Any]("a"))))).isEmpty)
  }

  test("string ranges, backslash literals, doubles and quoted names stay in Spark") {
    assert(push(GreaterThan("s", "a")).isEmpty)
    assert(push(EqualTo("s", "a\\b")).isEmpty)
    assert(push(EqualTo("x", 1.5)).isEmpty)
    assert(push(EqualTo("Mixed", 1L)).isEmpty)
    assert(push(And(GreaterThan("n", 1L), EqualTo("x", 1.5))).isEmpty)
  }
}
