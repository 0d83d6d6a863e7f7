package graft

import org.apache.spark.sql.SparkSession

/** The one reader of the engine's `spark.graft.*` session confs. An
  * unset key reads as its default; a set key that does not parse throws
  * `IllegalArgumentException` naming the key and the value. Callers read
  * their confs before building any work, so a typo such as
  * `exactYardstick=flase` fails before a Spark job starts instead of
  * quietly meaning the default.
  */
object GraftConf {

  /** `key` parsed by `parse`, or `default` when unset; `expected`
    * describes the accepted values in the error.
    */
  def read[A](spark: SparkSession, key: String, default: A, expected: String)(
      parse: String => Option[A]): A =
    spark.conf.getOption(key) match {
      case None => default
      case Some(v) =>
        parse(v.trim).getOrElse(
          throw new IllegalArgumentException(s"$key must be $expected, got '$v'"))
    }

  def bool(spark: SparkSession, key: String, default: Boolean): Boolean =
    read(spark, key, default, "true or false")(_.toLowerCase.toBooleanOption)

  def positiveDouble(spark: SparkSession, key: String, default: Double): Double =
    read(spark, key, default, "a positive number")(
      _.toDoubleOption.filter(d => d > 0 && !d.isInfinite))

  /** One of `choices` (case-insensitive), returned lower-cased. */
  def choice(spark: SparkSession, key: String, default: String, choices: Seq[String]): String =
    read(spark, key, default, choices.mkString(" or "))(
      v => Some(v.toLowerCase).filter(choices.contains))
}
