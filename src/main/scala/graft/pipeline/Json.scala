package graft.pipeline

import java.nio.charset.StandardCharsets.UTF_8
import java.sql.Timestamp
import java.time.ZoneId
import scala.util.control.NonFatal
import com.fasterxml.jackson.core.{JsonFactory, JsonParser}
import com.fasterxml.jackson.core.JsonToken._
import org.apache.commons.codec.digest.DigestUtils
import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.functions.{col, struct, to_json}
import org.apache.spark.unsafe.types.UTF8String
import graft.model._

/** JSON document sink/source (ref SURVEY.md A3: Document.to_json/from_json,
  * kazu/data/__init__.py:514-661). The reference pins a cattrs field layout;
  * we own our canonical schema (the KDoc case-class encoder schema) and
  * guarantee a lossless round-trip — structural comparison is what our
  * goldens use, per SURVEY A3 guidance.
  *
  * `toJson` writes one object per doc with Spark's JSON writer: null fields
  * (a `None`) are left out, and `warcTs` carries microseconds (Spark's
  * default timestamp format stops at milliseconds, which would make the
  * round trip lossy).
  *
  * `fromJson` is a hand-written streaming decoder: one Jackson parser per
  * partition builds the case classes directly, so the `mapPartitions` after
  * it gets objects, not rows. `from_json` with this schema followed by the
  * nested `.as[KDoc]` deserializer cost more than the whole `linking_only`
  * step group on a trie-mention-heavy hand-off. Its contract:
  *  - every line `toJson` writes decodes to a `KDoc` equal to the one
  *    written, in either timestamp form (microseconds, or the milliseconds
  *    older hand-offs carry); a timestamp without an offset is read in the
  *    session time zone;
  *  - an array field (`sections`, `entities`, `sentenceSpans`, `spans`,
  *    `candidates`, `mappings`, `rawSynonyms`, `mappingTypes`,
  *    `associatedIdSets`, `ids`) may be missing or `null` and decodes to an
  *    empty `List`: no step writes a null sequence, and a hand-off that
  *    leaves out an empty array must still link;
  *  - any other field the schema marks nullable may be missing or `null`
  *    and decodes to `null` / `None`; at the top level a missing or `null`
  *    `warcTs`, `text` or `lang` becomes the epoch, `""` or `""`; unknown
  *    fields are skipped;
  *  - any other line (not JSON, a missing `url`, a missing or `null`
  *    number or boolean, a value of the wrong type, an unparseable
  *    timestamp, trailing content) becomes a failed-doc row keyed by the
  *    line's content hash: url `corrupt-json-<md5 hex of its UTF-8>`, error
  *    `read_json: corrupt json line`, epoch timestamp, empty text, lang and
  *    sections — failures are rows, never task aborts.
  * `JsonFuzzSpec` ties the decoder to the encoder schema: it writes random
  * rows of `schema` and compares every line with the `from_json` reference
  * (its null arrays read as empty ones), so a model field the decoder does
  * not read fails it.
  */
object Json {

  val schema = Encoders.product[KDoc].schema

  private val TimestampFormat = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"

  def toJson(docs: Dataset[KDoc]): Dataset[String] =
    docs.select(to_json(struct(docs.columns.toSeq.map(col): _*),
      Map("timestampFormat" -> TimestampFormat))).as(Encoders.STRING)

  def fromJson(spark: SparkSession, lines: Dataset[String]): Dataset[KDoc] = {
    val zone = spark.conf.get("spark.sql.session.timeZone")
    lines.mapPartitions { it =>
      val decoder = new Decoder(DateTimeUtils.getZoneId(zone))
      it.map(decoder.decode)
    }(Encoders.product[KDoc])
  }

  def writeJson(docs: Dataset[KDoc], path: String): Unit =
    toJson(docs).write.mode("overwrite").text(path)

  def readJson(spark: SparkSession, path: String): Dataset[KDoc] =
    fromJson(spark, spark.read.text(path).as(Encoders.STRING))

  private object Corrupt extends Exception(null, null, false, false)

  /** One partition's decoder: the parser of the line being read is state,
    * so an instance is not shared between threads. */
  private final class Decoder(zone: ZoneId) {
    private val factory = new JsonFactory()
    private var p: JsonParser = _

    def decode(line: String): KDoc =
      try {
        p = factory.createParser(line)
        try {
          p.nextToken()
          val d = doc()
          if (p.nextToken() != null) fail()
          d
        } finally p.close()
      } catch {
        case NonFatal(_) => KDoc(
          s"corrupt-json-${DigestUtils.md5Hex(line.getBytes(UTF_8))}",
          new Timestamp(0L), "", "", Seq.empty, Some("read_json: corrupt json line"))
      }

    private def fail(): Nothing = throw Corrupt

    /** Calls `field` with each field name of the object at the current
      * token, the parser on that field's value; `field` must consume it. */
    private def fields(field: String => Unit): Unit = {
      if (p.currentToken != START_OBJECT) fail()
      while (p.nextToken() != END_OBJECT) {
        val name = p.currentName
        p.nextToken()
        field(name)
      }
    }

    private def nullable[A >: Null](read: => A): A =
      if (p.currentToken == VALUE_NULL) null else read

    private def opt[A](read: => A): Option[A] =
      if (p.currentToken == VALUE_NULL) None else Some(read)

    /** Required numbers and booleans stay boxed until checked here: a
      * missing one would otherwise unbox to 0 or false. */
    private def required[A <: AnyRef](v: A): A = if (v == null) fail() else v

    /** A `List`, the collection Spark's deserializer builds, so the steps
      * downstream see the same shapes as from a row-based source; `null`
      * is the empty list, as a missing array is. */
    private def seq[A >: Null](elem: => A): Seq[A] = p.currentToken match {
      case VALUE_NULL => Nil
      case START_ARRAY =>
        val b = List.newBuilder[A]
        while (p.nextToken() != END_ARRAY) b += nullable(elem)
        b.result()
      case _ => fail()
    }

    private def str(): String = p.currentToken match {
      case VALUE_STRING => p.getText
      case VALUE_NULL => null
      case _ => fail()
    }

    private def int(): Int =
      if (p.currentToken == VALUE_NUMBER_INT) p.getIntValue else fail()

    private def bool(): Boolean = p.currentToken match {
      case VALUE_TRUE => true
      case VALUE_FALSE => false
      case _ => fail()
    }

    /** Spark's JSON writer quotes the non-finite values. */
    private def double(): Double = p.currentToken match {
      case VALUE_NUMBER_INT | VALUE_NUMBER_FLOAT => p.getDoubleValue
      case VALUE_STRING => p.getText match {
        case "NaN" => Double.NaN
        case "Infinity" => Double.PositiveInfinity
        case "-Infinity" => Double.NegativeInfinity
        case _ => fail()
      }
      case _ => fail()
    }

    /** Spark's own string-to-timestamp cast, the fallback its JSON reader
      * uses when no format is set; reads both fraction widths. */
    private def timestamp(): Timestamp = p.currentToken match {
      case VALUE_STRING =>
        DateTimeUtils.stringToTimestamp(UTF8String.fromString(p.getText), zone)
          .map(us => DateTimeUtils.toJavaTimestamp(us)).getOrElse(fail())
      case VALUE_NULL => null
      case _ => fail()
    }

    private def doc(): KDoc = {
      var url, text, lang: String = null
      var warcTs: Timestamp = null
      var sections: Seq[Section] = Nil
      var error: Option[String] = None
      fields {
        case "url" => url = str()
        case "warcTs" => warcTs = timestamp()
        case "text" => text = str()
        case "lang" => lang = str()
        case "sections" => sections = seq(section())
        case "error" => error = opt(str())
        case _ => p.skipChildren()
      }
      KDoc(required(url), if (warcTs == null) new Timestamp(0L) else warcTs,
        if (text == null) "" else text, if (lang == null) "" else lang,
        sections, error)
    }

    private def section(): Section = {
      var name, text: String = null
      var entities: Seq[Mention] = Nil
      var sentenceSpans: Seq[CharSpan] = Nil
      fields {
        case "name" => name = str()
        case "text" => text = str()
        case "entities" => entities = seq(mention())
        case "sentenceSpans" => sentenceSpans = seq(span())
        case _ => p.skipChildren()
      }
      Section(name, text, entities, sentenceSpans)
    }

    private def span(): CharSpan = {
      var start, end: Integer = null
      fields {
        case "start" => start = int()
        case "end" => end = int()
        case _ => p.skipChildren()
      }
      CharSpan(required(start).intValue, required(end).intValue)
    }

    private def mention(): Mention = {
      var matchStr, entityClass, namespace, matchNorm: String = null
      var spans: Seq[CharSpan] = Nil
      var mentionConfidence: Integer = null
      var candidates: Seq[CandidateWithMetrics] = Nil
      var mappings: Seq[Mapping] = Nil
      fields {
        case "matchStr" => matchStr = str()
        case "entityClass" => entityClass = str()
        case "spans" => spans = seq(span())
        case "namespace" => namespace = str()
        case "mentionConfidence" => mentionConfidence = int()
        case "matchNorm" => matchNorm = str()
        case "candidates" => candidates = seq(candidateWithMetrics())
        case "mappings" => mappings = seq(mapping())
        case _ => p.skipChildren()
      }
      Mention(matchStr, entityClass, spans, namespace, required(mentionConfidence).intValue,
        matchNorm, candidates, mappings)
    }

    private def candidateWithMetrics(): CandidateWithMetrics = {
      var candidate: LinkingCandidate = null
      var metrics: LinkingMetrics = null
      fields {
        case "candidate" => candidate = nullable(linkingCandidate())
        case "metrics" => metrics = nullable(linkingMetrics())
        case _ => p.skipChildren()
      }
      CandidateWithMetrics(candidate, metrics)
    }

    private def linkingCandidate(): LinkingCandidate = {
      var parserName, synonymNorm, aggregatedBy: String = null
      var rawSynonyms, mappingTypes: Seq[String] = Nil
      var isSymbolic: java.lang.Boolean = null
      var associatedIdSets: Seq[EquivalentIdSet] = Nil
      fields {
        case "parserName" => parserName = str()
        case "synonymNorm" => synonymNorm = str()
        case "rawSynonyms" => rawSynonyms = seq(str())
        case "isSymbolic" => isSymbolic = bool()
        case "mappingTypes" => mappingTypes = seq(str())
        case "associatedIdSets" => associatedIdSets = seq(equivalentIdSet())
        case "aggregatedBy" => aggregatedBy = str()
        case _ => p.skipChildren()
      }
      LinkingCandidate(parserName, synonymNorm, rawSynonyms, required(isSymbolic).booleanValue,
        mappingTypes, associatedIdSets, aggregatedBy)
    }

    private def equivalentIdSet(): EquivalentIdSet = {
      var ids: Seq[IdAndSource] = Nil
      fields {
        case "ids" => ids = seq(idAndSource())
        case _ => p.skipChildren()
      }
      EquivalentIdSet(ids)
    }

    private def idAndSource(): IdAndSource = {
      var idx, source: String = null
      fields {
        case "idx" => idx = str()
        case "source" => source = str()
        case _ => p.skipChildren()
      }
      IdAndSource(idx, source)
    }

    private def linkingMetrics(): LinkingMetrics = {
      var searchScore, embedScore: Option[Double] = None
      var boolScore, exactMatch: Option[Boolean] = None
      fields {
        case "searchScore" => searchScore = opt(double())
        case "embedScore" => embedScore = opt(double())
        case "boolScore" => boolScore = opt(bool())
        case "exactMatch" => exactMatch = opt(bool())
        case _ => p.skipChildren()
      }
      LinkingMetrics(searchScore, embedScore, boolScore, exactMatch)
    }

    private def mapping(): Mapping = {
      var defaultLabel, source, parserName, idx: String = null
      var stringMatchStrategy, stringMatchConfidence: String = null
      var disambiguationStrategy, disambiguationConfidence: Option[String] = None
      fields {
        case "defaultLabel" => defaultLabel = str()
        case "source" => source = str()
        case "parserName" => parserName = str()
        case "idx" => idx = str()
        case "stringMatchStrategy" => stringMatchStrategy = str()
        case "stringMatchConfidence" => stringMatchConfidence = str()
        case "disambiguationStrategy" => disambiguationStrategy = opt(str())
        case "disambiguationConfidence" => disambiguationConfidence = opt(str())
        case _ => p.skipChildren()
      }
      Mapping(defaultLabel, source, parserName, idx, stringMatchStrategy,
        stringMatchConfidence, disambiguationStrategy, disambiguationConfidence)
    }
  }
}
