package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import scala.util.control.NonFatal
import graft.model._
import graft.text.Html

/** Input-side: the north-rule page table `(url, warc_ts, html, text, lang)`
  * (BASELINE.json input_hint, FIXTURES.md §1).
  *
  * Production shape: an Iceberg table partitioned by (days(warc_ts),
  * bucket(64, url)); `spark.read.format("iceberg").load("pages")` with
  * Catalyst pushing `lang` filters and warc_ts day pruning into the scan, and
  * the BINARY `html` column pruned away as soon as text extraction is done.
  * This sandbox has no Iceberg runtime jar, so tests/benchmarks derive the
  * same shape deterministically from the driver-generated `documents`
  * parquet (TESTDATA.md) — url/warc_ts/html synthesized from (doc_id, text):
  * html = Html.wrap(title, text), preserving the byte-identical
  * `extract(html) == text` invariant the north rule pins.
  */
object Pages {

  val Epoch = 1700000000000L // fixed, deterministic warc_ts base

  def urlOf(docId: Long): String = s"https://graft.test/doc/$docId"

  /** documents.parquet → page table. Narrow, deterministic derivation. */
  def fromDocuments(spark: SparkSession, sfDir: String,
      spread: Boolean = false,
      docIdResidue: Option[(Int, Int)] = None): DataFrame = {
    import spark.implicits._
    // `spread` (r8, guide §2.2): spread the one-split scan BEFORE the
    // html-synthesis map so a heavy narrow consumer (corpus-wide trie NER)
    // parallelizes — opt-in because Pipeline.run already balances its own
    // input by url, and the sliced per-strategy rows measured slightly
    // SLOWER with an unconditional extra exchange here.
    // `docIdResidue = Some((mod, residue))` (r8): the sliced driver rows
    // keep doc_id % mod == residue — filtering on the SCAN column before
    // the map skips html synthesis for the dropped docs, where the old
    // regexp filter on the synthesized url ran downstream of it (the url
    // embeds the doc id, so the predicates are equivalent).
    val scan0 = spark.read.parquet(s"$sfDir/documents.parquet")
      .select($"doc_id", $"text", $"lang")
    val scan = docIdResidue.fold(scan0) { case (m, r) =>
      scan0.filter($"doc_id" % m === r)
    }
    (if (spread) graft.SparkEntry.spreadScan(spark, scan) else scan)
      .as[(Long, String, String)]
      .map { case (id, text, lang) =>
        PageRow(
          url = urlOf(id),
          warc_ts = new java.sql.Timestamp(Epoch + id * 1000L),
          html = Html.wrap(s"doc $id", text)
            .getBytes(java.nio.charset.StandardCharsets.UTF_8),
          text = text,
          lang = lang)
      }
      .toDF()
  }

  /** Max document length prefilter (ref Pipeline.skip_doc_len=200000,
    * kazu/pipeline/__init__.py:138,195-209). Plain Catalyst filter — pushed
    * to the scan. Rejected rows become failure rows, not lost data. */
  val SkipDocLen = 200000

  /** page rows → typed docs with boilerplate-stripped text as the single
    * "body" section: the `extract` step. When a page carries pre-extracted
    * `text`, extraction must reproduce it byte-identically (north rule); a
    * mismatch, an oversized page and an extraction that throws are each
    * recorded as a failure row (failures are rows, not task aborts).
    */
  def toDocs(spark: SparkSession, pages: DataFrame): Dataset[KDoc] = {
    import spark.implicits._
    pages
      .select($"url", $"warc_ts", $"html", $"text", $"lang")
      .as[PageRow]
      .map { p =>
        def failed(text: String, error: String) =
          KDoc(p.url, p.warc_ts, text, p.lang, Seq.empty, error = Some(s"extract: $error"))
        try {
          val extracted = Html.extractBytes(p.html)
          if (p.text != null && p.text.nonEmpty && extracted != p.text)
            failed(extracted, s"text-extraction mismatch (${Html.version})")
          else if (extracted.length > SkipDocLen)
            failed("", s"doc length ${extracted.length} > $SkipDocLen")
          else
            KDoc(p.url, p.warc_ts, extracted, p.lang,
              sections = Seq(Section("body", extracted)))
        } catch {
          case NonFatal(e) => failed("", s"${e.getClass.getName}: ${e.getMessage}")
        }
      }
  }
}
