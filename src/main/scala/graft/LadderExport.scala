package graft

import org.apache.spark.sql.SparkSession
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import graft.index.Resources
import graft.link.{Ladders, MappingResources, MappingStep}
import graft.model._
import graft.pipeline.{Pages, Pipeline}

/** Ladder-parity export (round-4 directive #4): dump everything the
  * REFERENCE's pure-python StrategyRunner needs to replay this engine's
  * mapping stage over the whole corpus — the ontology (candidates +
  * metadata in the reference's shapes), the fitted per-parser context
  * vectorizers (vocab + idf, so the reference TfIdfDisambiguationStrategy
  * can run with a bit-identical model), and every document's pre-mapping
  * entities (with candidate metrics) next to OUR chosen mappings.
  *
  *   sbt "runMain graft.LadderExport [sfDir] [outJson]"
  *
  * `tools/ladder_parity.py` then imports the reference's strategy_runner /
  * mapping / disambiguation modules (kazu @ /root/reference — logic
  * verbatim; absent heavy wheels are no-op shimmed), replays the ladder,
  * and diffs chosen mappings entity-by-entity corpus-wide.
  */
object LadderExport {

  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.001")
    val outPath = args.lift(1).getOrElse("/tmp/ladder_export.json")
    // "default" = the full default-pipeline corpus (round-4 directive #4);
    // "gilda" | "annotation" | "embed" = the planted per-strategy corpora of
    // the E10/E11/E13 driver oracles, replayed through the REFERENCE's own
    // GildaTfIdf / AnnotationLevel / PreferNearestEmbedding classes
    val mode = args.lift(2).getOrElse("default")
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")}]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    if (mode == "classdisambig") {
      exportClassDisambig(spark, sfDir, outPath)
      spark.stop()
      return
    }
    val harness: Option[(Int, String, Resources, graft.link.StrategyRunner)] =
      if (mode == "default") None else Some(SparkEntry.plantedHarness(mode))
    val (res, runner) = harness
      .map(h => (h._3, h._4))
      .getOrElse((Resources.corpus, Ladders.default))
    val m = new ObjectMapper()
    val root = m.createObjectNode()
    root.putObject("ladder").put("mode", mode)

    // ---- ontology (reference shapes) ---------------------------------------
    val onto = root.putObject("ontology")
    val eco = onto.putObject("entity_class_of")
    res.entityClassOf.toSeq.sortBy(_._1).foreach { case (p, c) => eco.put(p, c) }
    val cands = onto.putArray("candidates")
    // candidate and metadata rows are stored in (parser, key) order
    (0 until res.candidateCount).map(res.candidateAt).foreach { c =>
      val cn = cands.addObject()
      cn.put("parser", c.parserName)
      cn.put("syn_norm", c.synonymNorm)
      val raws = cn.putArray("raw_synonyms")
      c.rawSynonyms.foreach(raws.add)
      cn.put("is_symbolic", c.isSymbolic)
      cn.put("aggregated_by", c.aggregatedBy)
      val mts = cn.putArray("mapping_types")
      c.mappingTypes.foreach(mts.add)
      val sets = cn.putArray("id_sets")
      c.associatedIdSets.foreach { s =>
        val sn = sets.addArray()
        s.ids.foreach { id =>
          val idn = sn.addArray(); idn.add(id.idx); idn.add(id.source)
        }
      }
    }
    val meta = onto.putArray("metadata")
    (0 until res.metadataCount).map(res.metadataAt).foreach { mr =>
      val mn = meta.addObject()
      mn.put("parser", mr.parserName); mn.put("idx", mr.idx)
      mn.put("default_label", mr.defaultLabel)
      val ex = mn.putObject("extras")
      mr.extras.toSeq.sortBy(_._1).foreach { case (k, v) => ex.put(k, v) }
    }

    // ---- fitted context vectorizers (the TfIdf disambiguation model) -------
    val mres = MappingResources.forResources(res)
    val vecs = root.putObject("vectorizers")
    mres.contextVectorizers.toSeq.sortBy(_._1).foreach { case (parser, v) =>
      val vn = vecs.putObject(parser)
      val vocab = vn.putObject("vocab")
      v.vocab.toSeq.sortBy(_._2).foreach { case (f, i) => vocab.put(f, i) }
      val idf = vn.putArray("idf")
      v.idf.foreach(idf.add)
    }

    // ---- documents: pre-mapping entities + our chosen mappings -------------
    // the chain up to (but excluding) MappingStep, then MappingStep
    // separately, so pre/post entities align positionally. Planted modes
    // replay the driver queries' shape: sliced + suffixed pages, no
    // transformer pass (the strategies live downstream of NER).
    import org.apache.spark.sql.functions._
    val pages =
      if (mode == "default") Pages.fromDocuments(spark, sfDir)
      else {
        val (residue, suffix, _, _) = harness.get
        Pages.fromDocuments(spark, sfDir)
          .filter(regexp_extract(col("url"), "([0-9]+)$", 1).cast("long") % 5 === residue)
          .withColumn("text", concat(col("text"), lit(suffix)))
          .select(col("url"), col("warc_ts"),
            to_binary(concat(lit("<html><body><p>"), col("text"), lit("</p></body></html>")),
              lit("utf-8")).as("html"),
            col("text"), col("lang"))
      }
    val withTransformer = mode == "default"
    val bc = spark.sparkContext.broadcast(res)
    val pre = Pages.toDocs(spark, pages).mapPartitions(it => Pipeline.mapDocs(
      Pipeline.steps(bc.value, withTransformerNer = withTransformer)
        .takeWhile(_.name != "mapping"))(it))
    val preDocs = pre.collect().sortBy(_.url)
    val postDocs = preDocs.map(MappingStep.open(res, runner))

    // ---- injected model assets for the planted modes -----------------------
    if (mode == "gilda") {
      // the reference GildaTfIdfScorer's model + contexts slots: the fitted
      // sklearn-words vectorizer (vocab + idf) and the per-id context
      // strings the id vectors are built from
      val ctxs = SparkEntry.plantedGildaContexts
      // the scorer's OWN fitted vectorizer — not a re-fit — so the exported
      // model cannot drift from what the Scala run actually scored with
      val fit = SparkEntry.plantedGildaScorer.vectorizer
      val gn = root.putObject("gilda")
      val vn = gn.putObject("vectorizer")
      val vocab = vn.putObject("vocab")
      fit.vocab.toSeq.sortBy(_._2).foreach { case (f, i) => vocab.put(f, i) }
      val idf = vn.putArray("idf")
      fit.idf.foreach(idf.add)
      val cn = gn.putArray("contexts")
      ctxs.toSeq.sortBy(_._1).foreach { case ((parser, idx), text) =>
        val o = cn.addObject()
        o.put("parser", parser); o.put("idx", idx); o.put("context", text)
      }
    }
    if (mode == "embed") {
      // the reference PreferNearestEmbeddingToDefaultLabel's
      // complex_string_scorer slot: MiniBern cosine for every
      // (mention match, candidate default label) pair the replay can hit
      val sc = graft.text.Similarity.defaultEmbedding
      val pairs = scala.collection.mutable.LinkedHashSet.empty[(String, String)]
      preDocs.foreach(_.sections.foreach(_.entities.foreach { e =>
        e.candidates.foreach { c =>
          c.candidate.associatedIdSets.foreach(_.ids.foreach { id =>
            pairs += ((e.matchStr, res.defaultLabel(c.candidate.parserName, id.idx)))
          })
        }
      }))
      val en = root.putArray("embed_scores")
      pairs.toSeq.sorted.foreach { case (matchStr, label) =>
        val o = en.addObject()
        o.put("match", matchStr); o.put("label", label)
        o.put("score", sc.score(matchStr, label))
      }
    }

    val docsArr = root.putArray("docs")
    preDocs.zip(postDocs).foreach { case (dPre, dPost) =>
      val dn = docsArr.addObject()
      dn.put("url", dPre.url)
      val secs = dn.putArray("sections")
      dPre.sections.zip(dPost.sections).foreach { case (sPre, sPost) =>
        val sn = secs.addObject()
        sn.put("name", sPre.name)
        sn.put("text", sPre.text)
        val ents = sn.putArray("entities")
        require(sPre.entities.size == sPost.entities.size,
          s"entity count drift in ${dPre.url}")
        sPre.entities.zip(sPost.entities).foreach { case (e, ePost) =>
          val en = ents.addObject()
          en.put("match", e.matchStr)
          en.put("match_norm", e.matchNorm)
          en.put("entity_class", e.entityClass)
          en.put("namespace", e.namespace)
          en.put("confidence", e.mentionConfidence)
          val spans = en.putArray("spans")
          e.spans.foreach { sp =>
            val a = spans.addArray(); a.add(sp.start); a.add(sp.end)
          }
          val cn = en.putArray("candidates")
          e.candidates.foreach { c =>
            val o = cn.addObject()
            o.put("parser", c.candidate.parserName)
            o.put("syn_norm", c.candidate.synonymNorm)
            c.metrics.exactMatch.foreach(o.put("exact_match", _))
            c.metrics.searchScore.foreach(o.put("search_score", _))
          }
          val mn = en.putArray("our_mappings")
          ePost.mappings.foreach { mp =>
            val o = mn.addObject()
            o.put("parser", mp.parserName)
            o.put("source", mp.source)
            o.put("idx", mp.idx)
            o.put("default_label", mp.defaultLabel)
            o.put("strategy", mp.stringMatchStrategy)
            o.put("string_match_confidence", mp.stringMatchConfidence)
            mp.disambiguationStrategy.foreach(o.put("disambiguation_strategy", _))
            mp.disambiguationConfidence.foreach(o.put("disambiguation_confidence", _))
          }
        }
      }
    }

    java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath),
      m.writerWithDefaultPrettyPrinter().writeValueAsString(root))
    println(s"ladder export: ${preDocs.length} docs -> $outPath")
    spark.stop()
  }

  /** E16 replay export: the kg_entity_class_disambig corpus at the ECD step
    * boundary — entities POST-NER/PRE-ECD (with the sentence spans the
    * context window uses), the step config, and which entities OUR step
    * kept — so `tools/ladder_parity.py` can run the REFERENCE's own
    * `EntityClassDisambiguationStep` over the same documents and diff the
    * surviving entity sets. */
  private def exportClassDisambig(spark: SparkSession,
      sfDir: String, outPath: String): Unit = {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val res = SparkEntry.twoClassResources
    val cfg = SparkEntry.twoClassConfig
    val m = new ObjectMapper()
    val root = m.createObjectNode()
    root.putObject("ladder").put("mode", "classdisambig")
    val cn = root.putObject("ecd_context")
    cfg.context.toSeq.sortBy(_._1).foreach { case (span, entries) =>
      val arr = cn.putArray(span)
      entries.foreach { e =>
        val o = arr.addObject()
        o.put("entity_class", e.entityClass)
        val rt = o.putArray("relevant_text")
        e.relevantText.foreach(rt.add)
        o.put("thresh", e.thresh)
      }
    }
    val pages = Pages.fromDocuments(spark, sfDir)
      .filter(regexp_extract(col("url"), "([0-9]+)$", 1).cast("long") % 5 === 4)
      .withColumn("text", concat(col("text"), lit(" pane zzwop waits. vane rests.")))
      .select(col("url"), col("warc_ts"),
        to_binary(concat(lit("<html><body><p>"), col("text"), lit("</p></body></html>")),
          lit("utf-8")).as("html"),
        col("text"), col("lang"))
    val bc = spark.sparkContext.broadcast(res)
    val pre = Pages.toDocs(spark, pages).mapPartitions(it => Pipeline.mapDocs(
      Pipeline.nerOnly(Pipeline.steps(bc.value, withTransformerNer = false)))(it))
    val preDocs = pre.collect().sortBy(_.url)
    val postDocs = preDocs.map(graft.link.EntityClassDisambiguation.processDoc(cfg))
    val docsArr = root.putArray("docs")
    preDocs.zip(postDocs).foreach { case (dPre, dPost) =>
      val dn = docsArr.addObject()
      dn.put("url", dPre.url)
      val secs = dn.putArray("sections")
      dPre.sections.zip(dPost.sections).foreach { case (sPre, sPost) =>
        val sn = secs.addObject()
        sn.put("name", sPre.name)
        sn.put("text", sPre.text)
        val ss = sn.putArray("sentence_spans")
        sPre.sentenceSpans.foreach { sp =>
          val a = ss.addArray(); a.add(sp.start); a.add(sp.end)
        }
        val kept = sPost.entities
          .map(e => (e.matchStr, e.entityClass, e.spans.map(s => (s.start, s.end))))
          .groupBy(identity).map { case (k, v) => k -> v.size }
        val counted = scala.collection.mutable.HashMap.empty[(String, String, Seq[(Int, Int)]), Int]
        val ents = sn.putArray("entities")
        sPre.entities.foreach { e =>
          val key = (e.matchStr, e.entityClass, e.spans.map(s => (s.start, s.end)))
          val seen = counted.getOrElse(key, 0)
          counted(key) = seen + 1
          val en = ents.addObject()
          en.put("match", e.matchStr)
          en.put("entity_class", e.entityClass)
          en.put("confidence", e.mentionConfidence)
          val spans = en.putArray("spans")
          e.spans.foreach { sp => val a = spans.addArray(); a.add(sp.start); a.add(sp.end) }
          en.put("our_kept", seen < kept.getOrElse(key, 0))
        }
      }
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath),
      m.writerWithDefaultPrettyPrinter().writeValueAsString(root))
    println(s"ladder export: ${preDocs.length} docs -> $outPath (classdisambig)")
  }
}
