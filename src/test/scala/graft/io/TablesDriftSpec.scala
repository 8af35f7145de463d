package graft.io

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, FloatType, LongType}

/** Physical-schema drift guard for the TYPED tables (the round-6 lesson
  * generalized beyond events.ts): if a driver testdata generation ships
  * `embedding` as list<double> or ids/counters as int32, every operator
  * with a typed contract — the native array<float> expressions, typed
  * Dataset encoders — dies at analysis. `Tables.conform` must absorb the
  * drift; this spec writes drifted encodings to temp parquet and asserts
  * the readers yield the contracted types with unchanged values. It also
  * pins the steady state: on the real testdata the conform layer is a
  * NO-OP (identical analyzed plan), so pushdown/pruning is untouched.
  */
class TablesDriftSpec extends SparkSpec {

  import spark.implicits._

  test("embeddings(): double vectors and int ids conform to float/long") {
    val dir = Files.createTempDirectory("drift-emb").toString
    Seq((1, Array(0.5d, 0.25d), 0), (2, Array(1.0d, -0.75d), 1))
      .toDF("vec_id", "embedding", "label")
      .select(col("vec_id").cast("int"), col("embedding"), col("label"))
      .write.parquet(s"$dir/embeddings.parquet")
    val df = Tables.embeddings(spark, dir)
    assert(df.schema("vec_id").dataType == LongType)
    assert(df.schema("embedding").dataType.asInstanceOf[ArrayType].elementType == FloatType)
    // the native codegen path accepts the conformed column
    val dot = df.select(col("vec_id"),
        graft.functions.DotProduct(col("embedding"), col("embedding")).as("d"))
      .as[(Long, Double)].collect().toMap
    assert(dot(1L) == 0.3125d && dot(2L) == 1.5625d)
  }

  test("documents(): int32 ids/counters conform to long") {
    val dir = Files.createTempDirectory("drift-doc").toString
    Seq((7, "some text", "en", "web", 9))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .select(col("doc_id").cast("int"), col("text"), col("lang"),
        col("source"), col("n_chars").cast("int"))
      .write.parquet(s"$dir/documents.parquet")
    val df = Tables.documents(spark, dir)
    assert(df.schema("doc_id").dataType == LongType)
    assert(df.schema("n_chars").dataType == LongType)
    assert(df.select("doc_id", "n_chars").as[(Long, Long)].collect().toSeq == Seq((7L, 9L)))
  }

  test("conform is a plan no-op on the real testdata encodings") {
    val dir = "/root/testdata/sf0.001"
    for (reader <- Seq(Tables.documents _, Tables.embeddings _)) {
      val conformed = reader(spark, dir)
      val rawName = if (conformed.columns.contains("doc_id")) "documents" else "embeddings"
      val raw = spark.read.parquet(s"$dir/$rawName.parquet")
      assert(conformed.queryExecution.analyzed.schema == raw.queryExecution.analyzed.schema)
      // no Project was inserted: the analyzed plans are the same shape
      assert(conformed.queryExecution.analyzed.getClass == raw.queryExecution.analyzed.getClass)
    }
  }
}
