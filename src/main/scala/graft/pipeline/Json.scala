package graft.pipeline

import org.apache.spark.sql.{Dataset, SparkSession, Encoders}
import org.apache.spark.sql.functions._
import graft.model.KDoc

/** JSON document sink/source (ref SURVEY.md A3: Document.to_json/from_json,
  * kazu/data/__init__.py:514-661). The reference pins a cattrs field layout;
  * we own our canonical schema (the KDoc case-class encoder schema) and
  * guarantee a lossless round-trip — structural comparison is what our
  * goldens use, per SURVEY A3 guidance.
  */
object Json {

  val schema = Encoders.product[KDoc].schema

  def toJson(docs: Dataset[KDoc]): Dataset[String] = docs.toDF().toJSON

  def fromJson(spark: SparkSession, lines: Dataset[String]): Dataset[KDoc] = {
    import spark.implicits._
    // a corrupt/truncated line makes PERMISSIVE from_json yield a null or
    // all-null struct, which would decode to a KDoc with sections = null
    // and NPE inside the first downstream stage — a task abort, violating
    // the module contract that failures are ROWS. Surface it as a
    // failed-doc row instead. Detection keys on the REQUIRED url field
    // (every line toJson writes carries one); the corrupt line's own url is
    // unrecoverable, so key the row by the line's content hash.
    val corrupt = $"doc".isNull || $"doc.url".isNull
    lines.select($"value", from_json($"value", schema).as("doc"))
      .select(
        when(corrupt, concat(lit("corrupt-json-"), md5($"value")))
          .otherwise($"doc.url").as("url"),
        coalesce($"doc.warcTs", lit(new java.sql.Timestamp(0L))).as("warcTs"),
        coalesce($"doc.text", lit("")).as("text"),
        coalesce($"doc.lang", lit("")).as("lang"),
        coalesce($"doc.sections",
          typedlit(Seq.empty[graft.model.Section])).as("sections"),
        when(corrupt, lit("read_json: corrupt json line"))
          .otherwise($"doc.error").as("error"))
      .as[KDoc]
  }

  def writeJson(docs: Dataset[KDoc], path: String): Unit =
    toJson(docs).write.mode("overwrite").text(path)

  def readJson(spark: SparkSession, path: String): Dataset[KDoc] = {
    import spark.implicits._
    fromJson(spark, spark.read.text(path).as[String])
  }
}
