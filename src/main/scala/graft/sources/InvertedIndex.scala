package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Term-postings inverted index as a persisted layout — full-text
  * point lookup without a corpus scan, the text analog of
  * [[AnnLayout]]'s probed-cell serving path.
  *
  * The index IS a (term, doc_id) postings table range-clustered on
  * term through [[StatsManifest]]: every part file covers a tight
  * contiguous term range, the per-file [lo, hi] manifest is
  * file-count-sized driver metadata, and a term lookup reads only the
  * file(s) whose range covers it — O(postings-per-term) bytes served,
  * independent of corpus size. Multi-term AND intersects doc sets via
  * one partial-agg count over the union of the (few) term reads —
  * the 100 TB contract is that query cost tracks posting-list bytes,
  * never the documents table.
  *
  * Build cost is the one tokenize+explode+shuffle pass every search
  * index pays at write time. Tokenization is the oracle-replayable
  * lowercase alnum split, applied identically at build and query.
  */
object InvertedIndex {

  /** Lowercase alnum tokens, deduplicated per document (postings are a
    * set: one (term, doc) row regardless of term frequency).
    */
  def tokens(text: Column): Column =
    array_distinct(filter(split(lower(text), "[^a-z0-9]+"), t => t =!= ""))

  def write(docs: DataFrame, path: String, idCol: String, textCol: String,
            nFiles: Int): Unit = {
    val postings = docs
      .filter(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"), explode(tokens(col(textCol))).as("term"))
    StatsManifest.write(postings, path, "term", nFiles)
  }

  /** The part files whose term range covers at least one query term —
    * a driver-side manifest filter, usually a small fraction of files.
    */
  def candidateFiles(s: SparkSession, path: String, terms: Seq[String]): Array[String] =
    terms.flatMap(t =>
      StatsManifest.prunedFiles(s, path, lit(t), lit(t))).distinct.toArray

  /** Documents containing ALL query terms: read only covering files,
    * keep the query terms' postings, and demand a full distinct-term
    * count per doc (the AND intersection as one partial aggregate).
    * Returns (doc_id, n_terms) with n_terms == terms.size.
    */
  def docsWithAll(s: SparkSession, path: String, terms: Seq[String]): DataFrame = {
    require(terms.nonEmpty, "docsWithAll needs at least one term")
    StatsManifest.readFiles(s, path, candidateFiles(s, path, terms).toIndexedSeq)
      .filter(col("term").isin(terms.map(lit): _*))
      .groupBy("doc_id")
      .agg(count_distinct(col("term")).as("n_terms"))
      .filter(col("n_terms") === terms.size)
  }
}
