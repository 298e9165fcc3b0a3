package graftbench

import graft.infra.Etl
import graft.operators._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** What one stage call sees: the session, the generated inputs and the
  * directory where this pass's stage outputs land. */
final class Ctx(val spark: SparkSession, val dataDir: String, val outDir: String) {
  def docs: DataFrame = spark.read.parquet(s"$dataDir/documents.parquet")
  /** The parquet output of an earlier stage of the same pass. */
  def read(stage: String): DataFrame = spark.read.parquet(s"$outDir/$stage")
  /** The filter stage's survivors, in the (doc_id, text) shape the text
    * stages read. */
  def filtered: DataFrame =
    read("textops.filter").select(col("doc_id"), col("actionable_text").as("text"))
  def pp: DataFrame = read("concepts.postprocess")
  /** The baseline document store, in the schema of the Medline ingest. */
  def store: DataFrame = spark.read.parquet(s"$dataDir/store.parquet")
  /** The Medline update files as (file_id, xml) rows, one row per file. */
  def updateFiles: DataFrame = spark.read.parquet(s"$dataDir/updates.parquet")
}

/** One call into a graft layer, with its outputs by name. `persist` stages
  * write parquet because a later stage reads them; the rest write to the
  * `noop` sink, which still materializes every output column. `oracle` names
  * the SparkEntry query whose oracleSql checks the (single) output: the
  * output must equal its rows, except for dedup.components, whose cluster
  * labels must equal the connected components of the oracle's confirmed
  * pairs. */
final case class Stage(layer: String, name: String, persist: Boolean, oracle: Option[String])(
    val outputs: Ctx => Seq[(String, DataFrame)]) {
  def key: String = s"$layer.$name"
}

object Stage {
  /** A stage with one output, stored under the stage's key. */
  def of(layer: String, name: String, persist: Boolean, oracle: Option[String])(
      run: Ctx => DataFrame): Stage =
    Stage(layer, name, persist, oracle)(c => Seq(s"$layer.$name" -> run(c)))
}

object Workloads {

  /** The text-mining stages in the reference's production order: filter,
    * sentences, abbreviations, concepts, cooccurrence, relation sentences,
    * export. */
  val textMining: Seq[Stage] = Seq(
    Stage.of("textops", "filter", persist = true, Some("doc_filter"))(c =>
      TextOps.filterUnactionable(c.docs)),
    Stage.of("textops", "sentences", persist = false, Some("sentences"))(c =>
      TextOps.sentences(c.filtered)),
    Stage.of("abbrev", "detect", persist = false, None)(c =>
      Abbreviations.detect(c.filtered, "doc_id", "text")),
    Stage.of("concepts", "recognize", persist = true, Some("concepts"))(c =>
      Concepts.recognize(c.filtered)),
    Stage.of("concepts", "postprocess", persist = true, Some("concepts_pp"))(c =>
      Concepts.postProcess(c.read("concepts.recognize"))),
    Stage.of("cooccur", "units_doc", persist = true, None)(c =>
      Cooccurrence.unitConceptsRaw(c.pp, Seq("doc_id"))),
    Stage.of("cooccur", "metrics_doc", persist = false, Some("cooccur_metrics_doc"))(c =>
      Cooccurrence.metricsFromUnits(c.read("cooccur.units_doc"), Seq("doc_id"))),
    Stage.of("cooccur", "units_sent", persist = true, None)(c =>
      Cooccurrence.unitConceptsRaw(Cooccurrence.levelAnnots(c.pp, "sentence"),
        Seq("doc_id", "sent_id"))),
    Stage.of("cooccur", "metrics_sent", persist = false, Some("cooccur_metrics_sent"))(c =>
      Cooccurrence.metricsFromUnits(c.read("cooccur.units_sent"), Seq("doc_id", "sent_id"))),
    Stage.of("sentpairs", "extract", persist = false, Some("sentence_pairs"))(c =>
      SentencePairs.extractWithBlinded(c.filtered, c.pp)),
    Stage.of("exports", "bionlp", persist = false, Some("bionlp_export"))(c =>
      Exports.bionlp(c.pp)))

  /** One nightly update cycle, applied in batch after the text-mining
    * stages: parse the Medline update files into revised (or new) citations
    * and deleted PMIDs, upsert the document store with deletes, recognize
    * concepts in the changed documents only, and upsert the annotation store
    * (the pass's concepts.postprocess output) with the same deletes. */
  val updates: Seq[Stage] = Seq(
    Stage("xmlingest", "parse", persist = true, None)(c => Seq(
      "xmlingest.parse.articles" -> XmlIngest.parseUpdateFileArticles(c.updateFiles),
      "xmlingest.parse.deletes" -> XmlIngest.parseUpdateFileDeletes(c.updateFiles))),
    Stage.of("etl", "upsert_docs", persist = false, Some("doc_upsert_delete"))(c => {
      val store = c.store
      Etl.upsertWithDeletes(store,
        c.read("xmlingest.parse.articles").select(store.columns.map(col): _*),
        c.read("xmlingest.parse.deletes").select("doc_id"), "doc_id")
    }),
    Stage.of("concepts", "changed", persist = true, None)(c =>
      Concepts.postProcess(Concepts.recognize(c.read("xmlingest.parse.articles")
        .select(col("doc_id"), regexp_replace(col("doc_text"), "\\s+", " ").as("text"))))),
    Stage.of("etl", "upsert_annots", persist = false, None)(c =>
      Etl.upsertWithDeletes(c.pp, c.read("concepts.changed"),
        c.read("xmlingest.parse.deletes").select("doc_id"), "doc_id")))

  /** Training-data curation over the generated corpus: each stage reads the
    * documents table, as the matching SparkEntry query does. The eval set of
    * the decontamination stage is SparkEntry's: sentence 0 of every 50th
    * document. */
  val curation: Seq[Stage] = Seq(
    Stage.of("dedup", "exact", persist = false, Some("dedup_exact"))(c => Dedup.exact(c.docs)),
    Stage.of("dedup", "candidates", persist = false, Some("dedup_minhash"))(c =>
      Dedup.minhashCandidates(c.docs)),
    // SparkEntry's dedup_clusters oracle closes the pairs with a recursive
    // CTE that takes longer than the whole pass; the gate closes the
    // ngram_jaccard oracle's pairs itself
    Stage.of("dedup", "components", persist = false, Some("ngram_jaccard"))(c =>
      Dedup.clusters(c.docs)),
    Stage.of("textstats", "quality", persist = false, Some("quality_filter"))(c =>
      TextStats.qualityFilter(c.docs)),
    Stage.of("textstats", "decontaminate", persist = false, Some("decontaminate"))(c => {
      val evalSents = TextOps.sentences(c.docs)
        .where(col("sent_id") === 0 && pmod(col("doc_id"), lit(50L)) === 0)
        .select(col("doc_id").as("eval_id"), col("sent_text"))
      TextStats.decontaminateFromBigrams(TextStats.docBigrams(c.docs),
        TextStats.evalBigrams(evalSents, "eval_id", "sent_text"))
    }))

  def apply(name: String): Seq[Stage] = name match {
    case "abstracts" => textMining ++ updates
    case "fulltext" => textMining
    case "curation" => curation
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}
