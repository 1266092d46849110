package graft.link

import graft.model._
import graft.index.Resources
import graft.text.Similarity

/** SapBERT-style embedding entity linking (ref SapBertHelper +
  * SapbertStringSimilarityScorer, kazu/utils/sapbert.py:84-254,
  * string_similarity_scorers.py:94-133; BASELINE "SapBERT-style embedding
  * entity linking").
  *
  * Shape: ontology-side synonym embeddings are computed once per (bundle
  * instance, embedder), on first use in a task (production: an offline Spark
  * job writing an embeddings table, refreshed with the ontology); mention
  * embeddings are computed batched inside mapPartitions with an
  * executor-pinned encoder session; candidate generation is top-k cosine.
  * The encoder is the pluggable [[Similarity.Embedder]] (deterministic
  * hashing fallback standing in for the ONNX SapBERT encoder).
  */
object EmbeddingLinking {

  val TopK = 5
  val MinCosine = 0.70

  final class SynonymEmbeddings(
      val parserSyns: Map[String, Array[String]],        // parser → synNorms
      val parserVecs: Map[String, Array[Array[Float]]],  // parser → vectors
      val parsersByClass: Map[String, Seq[String]]
  ) extends Serializable

  def buildSynonymEmbeddings(
      res: Resources,
      embedder: Similarity.Embedder
  ): SynonymEmbeddings = {
    val syns = res.candidateParsers.map { p =>
      p -> res.candidatesOf(p).map(res.candidateSynNorm).toArray
    }.toMap
    new SynonymEmbeddings(
      syns,
      syns.map { case (p, ss) => p -> ss.map(embedder.embed) },
      res.entityClassOf.toSeq.groupBy(_._2)
        .map { case (cls, ps) => cls -> ps.map(_._1).sorted })
  }

  /** Attach embedding-similarity candidates (embedScore) to entities that
    * still have no candidates after exact + fuzzy linking. */
  def processPartition(
      res: Resources,
      embedder: Similarity.Embedder = graft.ner.MiniBernEmbedder
  )(docs: Iterator[KDoc]): Iterator[KDoc] = {
    val emb = res.derived((EmbeddingLinking, embedder))(buildSynonymEmbeddings(res, embedder))
    val cache = scala.collection.mutable.HashMap.empty[(String, String), Seq[CandidateWithMetrics]]
    def lookup(matchNorm: String, entityClass: String): Seq[CandidateWithMetrics] =
      cache.getOrElseUpdate((matchNorm, entityClass), {
        val qv = embedder.embed(matchNorm)
        emb.parsersByClass.getOrElse(entityClass, Seq.empty).flatMap { parser =>
          val syns = emb.parserSyns(parser)
          val vecs = emb.parserVecs(parser)
          val scored = syns.indices.map(i =>
            (syns(i), Similarity.cosine(qv, vecs(i))))
          scored.sortBy { case (s, sc) => (-sc, s) }
            .take(TopK)
            .filter(_._2 >= MinCosine)
            .flatMap { case (syn, sc) =>
              res.candidate(parser, syn).map(c =>
                CandidateWithMetrics(c, LinkingMetrics(embedScore = Some(sc))))
            }
        }
      })
    docs.map { doc =>
      if (doc.error.isDefined) doc
      else doc.copy(sections = doc.sections.map { s =>
        s.copy(entities = s.entities.map { e =>
          if (e.candidates.nonEmpty) e
          else lookup(e.matchNorm, e.entityClass) match {
            case Seq() => e
            case cands => e.copy(candidates = cands)
          }
        })
      })
    }
  }
}
