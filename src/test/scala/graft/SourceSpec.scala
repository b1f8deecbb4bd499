package graft

import org.apache.spark.sql.functions._

/** SURVEY §2.A (formats note): csv/json sources are supported through the
  * standard readers — round-trip the nation table through both and prove
  * content equality with the parquet original. */
class SourceSpec extends SparkSuite {

  test("csv source round-trips the nation table") {
    val dir = tempDir("graft-csv")
    val nation = Tables.nation(spark, sf001)
    nation.coalesce(1).write.option("header", "true").csv(s"$dir/nation")
    val back = spark.read
      .option("header", "true")
      .schema(nation.schema)
      .csv(s"$dir/nation")
    assert(back.orderBy("n_nationkey").collect().toSeq ==
      nation.orderBy("n_nationkey").collect().toSeq)
  }

  test("json source round-trips the supplier table") {
    val dir = tempDir("graft-json")
    val supplier = Tables.supplier(spark, sf001)
    supplier.coalesce(1).write.json(s"$dir/supplier")
    val back = spark.read.schema(supplier.schema).json(s"$dir/supplier")
    assert(back.orderBy("s_suppkey").collect().toSeq ==
      supplier.orderBy("s_suppkey").collect().toSeq)
  }
}
