package perfbench

import org.apache.spark.sql.SparkSession

/** Checks that the fingerprint ignores what a correct result may vary
  * in, and still tells apart what it may not. Returns the failures. */
object SelfTest {
  def run(spark: SparkSession): Seq[String] = {
    def fp(sql: String): (Long, String) = Fingerprint.of(spark.sql(sql))
    def same(what: String, a: String, b: String): Option[String] =
      if (fp(a) == fp(b)) None else Some(s"should match: $what")
    def differ(what: String, a: String, b: String): Option[String] =
      if (fp(a) != fp(b)) None else Some(s"should differ: $what")
    Seq(
      same("row order", "select * from values (1, 'a'), (2, 'b') t(x, y)",
        "select * from values (2, 'b'), (1, 'a') t(x, y)"),
      same("last bits of a double", "select 0.1d + 0.2d as x", "select 0.3d as x"),
      same("negative zero", "select -0.0d as x", "select 0.0d as x"),
      same("map entry order", "select map(1, 'a', 2, 'b') as m", "select map(2, 'b', 1, 'a') as m"),
      same("column names", "select 1 as a, 1 as a", "select 1 as x, 1 as y"),
      same("rounded double in an array", "select array(0.1d + 0.2d) as a", "select array(0.3d) as a"),
      differ("a double beyond rounding", "select 1.0d as x", "select 1.00001d as x"),
      differ("null against NaN", "select cast(null as double) as x", "select double('NaN') as x"),
      differ("array order", "select array(1, 2) as a", "select array(2, 1) as a"),
      differ("a microsecond", "select timestamp'2020-01-01 00:00:00.000001' as t",
        "select timestamp'2020-01-01 00:00:00.000002' as t"),
      differ("a duplicated row", "select * from values (1), (1) t(x)", "select * from values (1) t(x)"),
      differ("column order", "select 1 as x, 2 as y", "select 2 as x, 1 as y")
    ).flatten
  }
}
