package kgbench

import graft.ontology.{CorpusOntology, OntologyRow}

/** Seeded synthetic synonyms appended to the corpus ontology, so the
  * dictionary-linking index holds a realistic 10^5 synonyms.
  *
  * Tokens are edits of corpus words over the corpus alphabet, so they share
  * char bigrams with real mentions and the tf-idf scan scores them. A token
  * is rejected when it equals, contains or is contained in a corpus word:
  * then no synthetic synonym can match corpus text in the trie, nor be a
  * substring of a mention (or the reverse), so the mapped triples stay
  * those of the corpus ontology. Ids are `OP:SYN_nnnnnnn` (operator class,
  * parser OPS) and `SYS:SYN_nnnnnnn` (component class, parser SYS).
  */
object SynthOntology {

  def generate(seed: Long, n: Int, corpusWords: Set[String]): Seq[OntologyRow] = {
    val words = (corpusWords ++ CorpusOntology.rows.flatMap(_.syn.toLowerCase.split(" ")) ++
      graft.ner.TokenClassifier.CorpusVocab.keys).toArray.sorted
    val alphabet = words.flatMap(_.toCharArray).distinct.sorted
    val rnd = new java.util.SplittableRandom(seed)
    def clash(t: String): Boolean = words.exists(w => w.contains(t) || t.contains(w))
    def token(): String = {
      var t = ""
      while (t.length < 5 || clash(t)) {
        val sb = new StringBuilder(words(rnd.nextInt(words.length)))
        var edits = 1 + rnd.nextInt(3)
        while (edits > 0) {
          val c = alphabet(rnd.nextInt(alphabet.length))
          rnd.nextInt(3) match {
            case 0 if sb.nonEmpty => sb.setCharAt(rnd.nextInt(sb.length), c)
            case 1 => sb.insert(rnd.nextInt(sb.length + 1), c)
            case _ => if (sb.length > 1) sb.deleteCharAt(rnd.nextInt(sb.length)) else sb.append(c)
          }
          edits -= 1
        }
        t = sb.toString
        if (t.length < 5) t = t + words(rnd.nextInt(words.length)).take(5 - t.length)
      }
      t
    }
    val seen = scala.collection.mutable.HashSet.empty[String]
    val out = Vector.newBuilder[OntologyRow]
    var i = 0
    while (i < n) {
      val syn = Seq.fill(1 + rnd.nextInt(3))(token()).mkString(" ")
      if (seen.add(syn)) {
        val (parser, cls, prefix) =
          if (i % 2 == 0) (CorpusOntology.OpsParser, "operator", "OP")
          else (CorpusOntology.SysParser, "component", "SYS")
        out += OntologyRow(parser, cls, f"$prefix:SYN_$i%07d", syn, syn, "exactSyn")
        i += 1
      }
    }
    out.result()
  }
}
