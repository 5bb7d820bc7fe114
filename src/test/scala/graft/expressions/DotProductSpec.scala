package graft.expressions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.expressions.DotProduct.dot
import graft.operators.SparkTestSession.{sf, spark}

class DotProductSpec extends AnyFunSuite {

  test("graft_dot matches the primitive kernel on fixture embeddings") {
    import graft.functions.VectorFunctions.dotKernelDet
    val e = graft.Tables.embeddings(spark, sf).limit(50)
      .select(col("vec_id"), col("embedding"))
    val pairs = e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
    val diff = pairs.select(
      dot(col("a.embedding"), col("b.embedding")).as("native"),
      dotKernelDet(col("a.embedding"), col("b.embedding")).as("kernel"))
      .filter(col("native") =!= col("kernel"))
      .count()
    assert(diff === 0)
  }

  test("graft_dot rejects wrong input types") {
    import spark.implicits._
    val df = Seq((1, "x")).toDF("id", "s")
    val err = intercept[Exception] {
      df.select(dot(col("s"), col("s"))).collect()
    }
    assert(err.getMessage.toLowerCase.contains("graft_dot") ||
      err.getMessage.toLowerCase.contains("type"))
  }
}
