package graft.plans

import org.apache.spark.sql.DataFrame
import org.scalatest.Assertions._

/** A graft function's integer-literal argument reads an Int and a
  * Long alike: an out-of-range value fails with the same exception
  * and the same check whether it is spelled `0` or `0L`. */
object LiteralSpelling {
  def assertFailAlike(run: String => DataFrame, value: String, message: String): Unit = {
    def failure(literal: String): Throwable = intercept[Exception](run(literal).collect())
    val (asInt, asLong) = (failure(value), failure(value + "L"))
    assert(asInt.getClass == asLong.getClass, s"$asInt vs $asLong")
    Seq(asInt, asLong).foreach(e => assert(e.getMessage.contains(message), e.getMessage))
  }
}
