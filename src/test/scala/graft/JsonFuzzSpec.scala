package graft

import scala.util.Random
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{Dataset, Row, SparkSession}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.model.{KDoc, LinkingCandidate, Mention}
import graft.pipeline.Json

/** The `from_json` decoder that `Json.fromJson` replaced, kept as the
  * cross-check reference: `from_json` with the encoder schema, a coalesce
  * projection for the top-level defaults, and the `.as[KDoc]` deserializer.
  * A line it cannot read (null struct or null url) becomes the corrupt-line
  * row. Unlike `Json.fromJson`, a malformed nested number aborts the task
  * here, and that row keeps whatever top-level fields did parse. */
object JsonReference {
  def fromJson(spark: SparkSession, lines: Dataset[String]): Dataset[KDoc] = {
    import spark.implicits._
    val corrupt = $"doc".isNull || $"doc.url".isNull
    lines.select($"value", from_json($"value", Json.schema).as("doc"))
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
}

/** Seeded fuzz cross-check of the streaming decoder against the reference.
  * Rows are generated from `Json.schema`, the encoder schema, so every
  * field of every model class is exercised: a field added to the model
  * fails this spec until the decoder reads it. */
class JsonFuzzSpec extends AnyFunSuite with SparkTestBase {
  import JsonFuzzSpec._

  private def lines(rows: Seq[Row], write: Dataset[KDoc] => Dataset[String]): Seq[String] = {
    import spark.implicits._
    val docs = spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), Json.schema)
      .as[KDoc]
    write(docs).collect().toSeq
  }

  private def crossCheck(ls: Seq[String]): Unit = {
    import spark.implicits._
    val ds = ls.toDS()
    val got = Json.fromJson(spark, ds).collect()
    val want = JsonReference.fromJson(spark, ds).collect().map(emptyArrays)
    assert(got.length == ls.length && want.length == ls.length)
    ls.indices.foreach { i =>
      assert(want(i).error.forall(!_.startsWith("read_json")), ls(i))
      assert(same(got(i), want(i)), s"line $i: ${ls(i)}\n got: ${got(i)}\nwant: ${want(i)}")
    }
  }

  for (seed <- Seq(1L, 2L, 3L)) test(s"decoder equals the from_json reference on random schema rows, seed $seed") {
    val rows = new Gen(new Random(seed)).docs(150)
    crossCheck(lines(rows, Json.toJson))
    // the parent's writer: Spark's default millisecond timestamps
    crossCheck(lines(rows, _.toDF().toJSON))
  }

  test("the generator covers null and non-null of every nullable field") {
    val gen = new Gen(new Random(1L))
    gen.docs(150)
    val missing = gen.seen.groupBy(_._1).collect { case (path, s) if s.size < 2 => path }
    assert(missing.isEmpty, missing)
    assert(gen.seen.map(_._1).contains("sections.entities.candidates.metrics.exactMatch"))
  }
}

object JsonFuzzSpec {

  /** Random rows of a Spark schema. A nullable field is null one time in
    * four, arrays hold 0–3 elements, strings mix escapes, controls and
    * non-BMP characters. `url` is never null: a line without one is a
    * corrupt line, whose row the two decoders build differently. */
  final class Gen(rnd: Random) {
    /** (field path, was null) pairs seen while generating. */
    val seen = scala.collection.mutable.Set.empty[(String, Boolean)]

    private val alphabet = Vector("a", "Z", "7", " ", "\"", "\\", "/", "\n", "\t", "\r",
      "\u0000", "\u001f", "\u007f", "é", "ß", "中", " ", "😀", "𐐷")
    private val doubles = Vector(0.0, -0.0, 1.0, 0.1, 1e-300, 1e300, Double.MaxValue,
      Double.MinPositiveValue, Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity)

    def docs(n: Int): Seq[Row] = Seq.fill(n)(value(Json.schema, "").asInstanceOf[Row])

    private def value(t: DataType, path: String): Any = t match {
      case StringType => Seq.fill(rnd.nextInt(8))(alphabet(rnd.nextInt(alphabet.size))).mkString
      case IntegerType => if (rnd.nextBoolean()) rnd.nextInt(1000) else rnd.nextInt()
      case BooleanType => rnd.nextBoolean()
      case DoubleType =>
        if (rnd.nextBoolean()) doubles(rnd.nextInt(doubles.size)) else rnd.nextGaussian() * 100
      case TimestampType =>
        // 1906–2096 at microsecond precision; pages carry sub-ms instants
        DateTimeUtils.toJavaTimestamp(rnd.nextLong(6000000000000000L) - 2000000000000000L)
      case ArrayType(e, containsNull) => Seq.fill(rnd.nextInt(4))(field(e, containsNull, path))
      case StructType(fs) => Row.fromSeq(fs.toSeq.map(f =>
        field(f.dataType, f.nullable && f.name != "url",
          if (path.isEmpty) f.name else s"$path.${f.name}")))
    }

    private def field(t: DataType, nullable: Boolean, path: String): Any = {
      val isNull = nullable && rnd.nextInt(4) == 0
      if (nullable) seen += path -> isNull
      if (isNull) null else value(t, path)
    }
  }

  /** A reference row with its null arrays read as empty ones: the decoder
    * reads a missing or `null` array as an empty list. */
  def emptyArrays(d: KDoc): KDoc = {
    def seq[A <: AnyRef](s: Seq[A])(f: A => A): Seq[A] =
      if (s == null) Nil else s.map(a => if (a == null) a else f(a))
    def candidate(c: LinkingCandidate) = c.copy(
      rawSynonyms = seq(c.rawSynonyms)(identity),
      mappingTypes = seq(c.mappingTypes)(identity),
      associatedIdSets = seq(c.associatedIdSets)(s => s.copy(ids = seq(s.ids)(identity))))
    def mention(m: Mention) = m.copy(
      spans = seq(m.spans)(identity),
      candidates = seq(m.candidates)(cm =>
        if (cm.candidate == null) cm else cm.copy(candidate = candidate(cm.candidate))),
      mappings = seq(m.mappings)(identity))
    d.copy(sections = seq(d.sections)(s => s.copy(
      entities = seq(s.entities)(mention), sentenceSpans = seq(s.sentenceSpans)(identity))))
  }

  /** Structural equality that compares doubles by bits, so NaN equals NaN. */
  def same(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Double, y: Double) =>
      java.lang.Double.doubleToLongBits(x) == java.lang.Double.doubleToLongBits(y)
    case (x: Seq[_], y: Seq[_]) => x.length == y.length && x.zip(y).forall { case (u, v) => same(u, v) }
    case (x: Product, y: Product) => x.getClass == y.getClass &&
      x.productIterator.zip(y.productIterator).forall { case (u, v) => same(u, v) }
    case _ => a == b
  }
}
