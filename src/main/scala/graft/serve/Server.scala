package graft.serve

import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import graft.index.Resources
import graft.model._
import graft.pipeline.Pipeline

import java.net.InetSocketAddress
import scala.jdk.CollectionConverters._

/** The serving surface (ref kazu/web/server.py:88-649, route constants
  * kazu/web/routes.py:20-29): the reference deploys its Pipeline behind
  * FastAPI + Ray Serve actors, each replica holding a full pipeline copy.
  * Here every document stage is a per-document pure function — the same
  * functions the Spark `mapPartitions` runs — so the service is the JDK
  * HttpServer plus one in-process resource bundle: no Spark session, no job
  * launch per request, and request latency is the per-doc pipeline cost.
  *
  *   - POST /api/kazu/ner_and_linking   {"text": "..."} → full pipeline
  *   - POST /api/kazu/ner_only          {"text": "..."} → every step
  *     before linking (step groups, ref conf/Pipeline/default.yaml:14-20)
  *   - POST /api/kazu/linking_only      document JSON (a ner_only response)
  *     → linking + mapping + post-processing over the carried entities
  *   - POST /api/kazu/batch             [{"text": "..."}, ...] (array
  *     required; responds with an array)
  *
  * Responses are the reference's snake_case document JSON ([[docToJsonNode]]:
  * `idx`, entities with `match`, `entity_class`, `mention_confidence` by name
  * and flattened candidates; no `warcTs` or `sentenceSpans`), not the KDoc
  * encoder's camelCase schema the batch sink (`pipeline.Json`) writes: a
  * `ner_only` response feeds the `linking_only` route here, not
  * `pipeline.Main --step-group linking_only`.
  */
object Server {

  private val mapper = new ObjectMapper()

  /** Each call opens its steps for that one request (ref step groups,
    * kazu/web/routes.py:20-29 + conf/Pipeline/default.yaml:14-20). */
  final class Service(resources: Resources) {
    private val all = Pipeline.steps(resources)
    private val ner = Pipeline.nerOnly(all)
    private val linking = Pipeline.linkingOnly(all)

    def nerOnly(doc: KDoc): KDoc = Pipeline.compose(ner)(doc)

    def nerAndLinking(doc: KDoc): KDoc = Pipeline.compose(all)(doc)

    /** Every step AFTER NER, over a document that already carries entities
      * — composable with a prior ner_only response. */
    def linkingOnly(doc: KDoc): KDoc = Pipeline.compose(linking)(doc)

    def docFromText(text: String, idx: String): KDoc =
      KDoc(idx, new java.sql.Timestamp(0L), text, "en",
        Seq(Section("body", text)))
  }

  // ---- response JSON (canonical document schema) ---------------------------

  def docToJsonNode(doc: KDoc): java.util.Map[String, Object] = {
    def mappingNode(m: Mapping) = Map[String, Object](
      "default_label" -> m.defaultLabel, "source" -> m.source,
      "parser_name" -> m.parserName, "idx" -> m.idx,
      "string_match_strategy" -> m.stringMatchStrategy,
      "string_match_confidence" -> m.stringMatchConfidence,
      "disambiguation_strategy" -> m.disambiguationStrategy.orNull,
      "disambiguation_confidence" -> m.disambiguationConfidence.orNull
    ).asJava
    def candidateNode(c: CandidateWithMetrics) = Map[String, Object](
      "parser_name" -> c.candidate.parserName,
      "synonym_norm" -> c.candidate.synonymNorm,
      "raw_synonyms" -> c.candidate.rawSynonyms.asJava,
      "is_symbolic" -> Boolean.box(c.candidate.isSymbolic),
      "mapping_types" -> c.candidate.mappingTypes.asJava,
      "associated_id_sets" -> c.candidate.associatedIdSets.map(s =>
        s.ids.map(i => Map[String, Object](
          "idx" -> i.idx, "source" -> i.source).asJava).asJava).asJava,
      "aggregated_by" -> c.candidate.aggregatedBy,
      "search_score" -> c.metrics.searchScore.map(Double.box).orNull,
      "embed_score" -> c.metrics.embedScore.map(Double.box).orNull,
      "bool_score" -> c.metrics.boolScore.map(Boolean.box).orNull,
      "exact_match" -> c.metrics.exactMatch.map(Boolean.box).orNull
    ).asJava
    def entityNode(e: Mention) = Map[String, Object](
      "match" -> e.matchStr, "entity_class" -> e.entityClass,
      "namespace" -> e.namespace,
      "match_norm" -> e.matchNorm,
      "mention_confidence" -> MentionConfidence.name(e.mentionConfidence),
      "spans" -> e.spans.map(s => Map[String, Object](
        "start" -> Int.box(s.start), "end" -> Int.box(s.end)).asJava).asJava,
      // linking candidates ride in the document JSON exactly as the
      // reference's Document.to_json carries syn-term candidates — this is
      // what makes ner_only → linking_only composable over HTTP (the trie
      // stage attaches candidates, dictionary linking skips its namespace)
      "candidates" -> e.candidates.map(candidateNode).asJava,
      "mappings" -> e.mappings.map(mappingNode).asJava
    ).asJava
    def sectionNode(s: Section) = Map[String, Object](
      "name" -> s.name, "text" -> s.text,
      "entities" -> s.entities.map(entityNode).asJava
    ).asJava
    Map[String, Object](
      "idx" -> doc.url,
      "sections" -> doc.sections.map(sectionNode).asJava,
      "error" -> doc.error.orNull
    ).asJava
  }

  /** Parse the canonical document JSON (the schema [[docToJsonNode]] emits)
    * back into a typed doc — the inbound side of the linking_only route. */
  private def optText(n: com.fasterxml.jackson.databind.JsonNode,
      field: String): Option[String] = {
    val v = n.path(field)
    if (v.isMissingNode || v.isNull) None else Some(v.asText)
  }

  def docFromJsonNode(node: com.fasterxml.jackson.databind.JsonNode): KDoc = {
    import com.fasterxml.jackson.databind.JsonNode
    def spans(e: JsonNode): Seq[CharSpan] =
      e.path("spans").elements().asScala.map(s =>
        CharSpan(s.path("start").asInt, s.path("end").asInt)).toSeq
    def mapping(m: JsonNode): Mapping = Mapping(
      defaultLabel = m.path("default_label").asText(""),
      source = m.path("source").asText(""),
      parserName = m.path("parser_name").asText(""),
      idx = m.path("idx").asText(""),
      stringMatchStrategy = m.path("string_match_strategy").asText(""),
      stringMatchConfidence = m.path("string_match_confidence").asText(""),
      disambiguationStrategy = optText(m, "disambiguation_strategy"),
      disambiguationConfidence = optText(m, "disambiguation_confidence"))
    def candidate(c: JsonNode): CandidateWithMetrics = CandidateWithMetrics(
      LinkingCandidate(
        parserName = c.path("parser_name").asText(""),
        synonymNorm = c.path("synonym_norm").asText(""),
        rawSynonyms = c.path("raw_synonyms").elements().asScala.map(_.asText).toSeq,
        isSymbolic = c.path("is_symbolic").asBoolean(false),
        mappingTypes = c.path("mapping_types").elements().asScala.map(_.asText).toSeq,
        associatedIdSets = c.path("associated_id_sets").elements().asScala.map(s =>
          EquivalentIdSet(s.elements().asScala.map(i =>
            IdAndSource(i.path("idx").asText(""), i.path("source").asText(""))).toSeq)).toSeq,
        aggregatedBy = c.path("aggregated_by").asText("")),
      LinkingMetrics(
        searchScore = optText(c, "search_score").map(_.toDouble),
        embedScore = optText(c, "embed_score").map(_.toDouble),
        boolScore = optText(c, "bool_score").map(_.toBoolean),
        exactMatch = optText(c, "exact_match").map(_.toBoolean)))
    def entity(e: JsonNode): Mention = Mention(
      matchStr = e.path("match").asText(""),
      entityClass = e.path("entity_class").asText(""),
      spans = spans(e),
      namespace = e.path("namespace").asText(""),
      mentionConfidence =
        MentionConfidence.fromName(e.path("mention_confidence").asText("")),
      matchNorm = e.path("match_norm").asText(""),
      candidates = e.path("candidates").elements().asScala.map(candidate).toSeq,
      mappings = e.path("mappings").elements().asScala.map(mapping).toSeq)
    def section(s: JsonNode): Section = Section(
      name = s.path("name").asText("body"),
      text = s.path("text").asText(""),
      entities = s.path("entities").elements().asScala.map(entity).toSeq)
    KDoc(
      url = node.path("idx").asText("doc-0"),
      warcTs = new java.sql.Timestamp(0L),
      text = node.path("sections").elements().asScala.map(_.path("text").asText(""))
        .mkString(" "),
      lang = "en",
      sections = node.path("sections").elements().asScala.map(section).toSeq,
      error = {
        // NullNode.asText("default") quirks aside: only a real string is an
        // error (a Some("null") here would make every stage skip the doc)
        val e = node.path("error")
        if (e.isMissingNode || e.isNull) None else Some(e.asText)
      })
  }

  private def respond(ex: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes("UTF-8")
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(code, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  /** Client-payload parse failure: Jackson accepts the JSON but a field's
    * VALUE is malformed (a non-numeric score, a non-boolean flag, an unknown
    * enum name). Field coercion throws NumberFormat/IllegalArgument/
    * NoSuchElement — none of which is a JacksonException, so without this
    * wrapper they would fall to the generic arm and misreport the client's
    * malformed payload as a 500 pipeline failure. */
  private final class ClientParseError(cause: Throwable)
    extends RuntimeException(cause)

  private def handler(
      service: Service,
      f: KDoc => KDoc,
      parse: (com.fasterxml.jackson.databind.JsonNode, String) => KDoc,
      requireArray: Boolean = false
  ): HttpHandler = {
    def parsed(node: com.fasterxml.jackson.databind.JsonNode, idx: String): KDoc =
      try parse(node, idx)
      catch {
        case e @ (_: NumberFormatException | _: IllegalArgumentException |
                  _: NoSuchElementException) => throw new ClientParseError(e)
      }
    (ex: HttpExchange) =>
      try {
        val root = mapper.readTree(ex.getRequestBody)
        if (root.isArray) {
          val out = root.elements().asScala.zipWithIndex.map { case (node, i) =>
            docToJsonNode(f(parsed(node, s"doc-$i")))
          }.toSeq
          respond(ex, 200, mapper.writeValueAsString(out.asJava))
        } else if (requireArray) {
          // the batch route is list-of-documents by contract (ref
          // kazu/web/routes.py batch endpoints) — a single object is a
          // client error, not silently single-mode
          respond(ex, 400, mapper.writeValueAsString(
            Map[String, Object]("error" -> "batch expects a JSON array of documents").asJava))
        } else {
          respond(ex, 200, mapper.writeValueAsString(
            docToJsonNode(f(parsed(root, "doc-0")))))
        }
      } catch {
        // malformed request JSON (parse / shape / field coercion) is the
        // client's fault; anything else is a pipeline-stage failure and must
        // surface as 500 so callers can tell the two apart (the linking_only
        // route accepts rich document JSON where both genuinely occur)
        case e: com.fasterxml.jackson.core.JacksonException =>
          respond(ex, 400, mapper.writeValueAsString(
            Map[String, Object]("error" -> s"${e.getClass.getSimpleName}: ${e.getMessage}").asJava))
        case e: ClientParseError =>
          respond(ex, 400, mapper.writeValueAsString(
            Map[String, Object]("error" -> (s"malformed document field: " +
              s"${e.getCause.getClass.getSimpleName}: ${e.getCause.getMessage}")).asJava))
        case e: Exception =>
          respond(ex, 500, mapper.writeValueAsString(
            Map[String, Object]("error" -> s"${e.getClass.getSimpleName}: ${e.getMessage}").asJava))
      }
  }

  private def parseText(service: Service)(
      node: com.fasterxml.jackson.databind.JsonNode, idx: String): KDoc =
    service.docFromText(node.path("text").asText(""), idx)

  /** Start the server; port 0 picks an ephemeral port (tests). */
  def start(resources: Resources, port: Int): HttpServer = {
    val service = new Service(resources)
    resources.trie // build the automaton now, not in the first request
    val server = HttpServer.create(new InetSocketAddress(port), 0)
    server.createContext("/api/kazu/ner_and_linking",
      handler(service, service.nerAndLinking, parseText(service)))
    server.createContext("/api/kazu/ner_only",
      handler(service, service.nerOnly, parseText(service)))
    // linking_only consumes ner_only's document JSON (entities in, mappings
    // out) — the composable step-group route the reference exposes
    server.createContext("/api/kazu/linking_only",
      handler(service, service.linkingOnly, (n, _) => docFromJsonNode(n)))
    server.createContext("/api/kazu/batch",
      handler(service, service.nerAndLinking, parseText(service),
        requireArray = true))
    server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(
      math.max(2, Runtime.getRuntime.availableProcessors / 2)))
    server.start()
    server
  }

  def main(args: Array[String]): Unit = {
    val port = sys.env.getOrElse("GRAFT_SERVE_PORT", "8081").toInt
    val server = start(Resources.corpus, port)
    println(s"graft serving on :${server.getAddress.getPort} " +
      "(/api/kazu/ner_and_linking, /api/kazu/ner_only, " +
      "/api/kazu/linking_only, /api/kazu/batch)")
    Thread.currentThread.join()
  }
}
