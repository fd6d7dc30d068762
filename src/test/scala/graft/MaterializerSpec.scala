package graft

import graft.udf.{Materializer, Param, TvfSpec, UdfSpec}
import org.scalatest.funsuite.AnyFunSuite

/** Pins the DDL text the materializer generates for UDFs and TVFs: the
  * temporary form (never qualified, never commented), the database-qualified
  * form with its `COMMENT`, and the escaping of a description that carries a
  * quote and a backslash.
  */
class MaterializerSpec extends AnyFunSuite {

  private val description = """sums two amounts; it's in cents \ never floats"""
  private val escaped = """sums two amounts; it\'s in cents \\ never floats"""

  private val udf = UdfSpec("add_cents", Seq(Param("a", "BIGINT"), Param("b", "BIGINT")),
    returnType = "BIGINT", body = "a + b", description = description)
  private val tvf = TvfSpec("events_of", Seq(Param("uid", "STRING")),
    query = "SELECT * FROM events WHERE user_id = uid", description = description)

  test("UDF DDL: temporary, database-qualified with an escaped comment, unqualified") {
    assert(Materializer.createFunctionSql(udf, Some("udf_ci"), temporary = true) ==
      """CREATE OR REPLACE TEMPORARY FUNCTION add_cents(a BIGINT, b BIGINT)
        |  RETURNS BIGINT
        |  RETURN a + b""".stripMargin)
    assert(Materializer.createFunctionSql(udf, Some("udf_ci")) ==
      s"""CREATE OR REPLACE FUNCTION udf_ci.add_cents(a BIGINT, b BIGINT)
         |  RETURNS BIGINT
         |  COMMENT '$escaped'
         |  RETURN a + b""".stripMargin)
    assert(Materializer.createFunctionSql(udf.copy(description = "")) ==
      """CREATE OR REPLACE FUNCTION add_cents(a BIGINT, b BIGINT)
        |  RETURNS BIGINT
        |  RETURN a + b""".stripMargin)
  }

  test("TVF DDL: temporary, database-qualified with an escaped comment") {
    assert(Materializer.createTableFunctionSql(tvf, Some("udf_ci"), temporary = true) ==
      """CREATE OR REPLACE TEMPORARY FUNCTION events_of(uid STRING)
        |  RETURNS TABLE
        |  RETURN SELECT * FROM events WHERE user_id = uid""".stripMargin)
    assert(Materializer.createTableFunctionSql(tvf, Some("udf_ci")) ==
      s"""CREATE OR REPLACE FUNCTION udf_ci.events_of(uid STRING)
         |  RETURNS TABLE
         |  COMMENT '$escaped'
         |  RETURN SELECT * FROM events WHERE user_id = uid""".stripMargin)
  }
}
