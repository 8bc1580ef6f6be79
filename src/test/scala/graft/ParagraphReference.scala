package graft

import graft.model.{Doc, Paragraph}
import graft.operators.Segregate

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The P7/P8 filter by its regex definition (`sent_count_filter.py:31-57`,
  * sentence split per FIXTURES.md §5) and the W1+P7/P8 pipeline on Span
  * objects: the reference the production byte kernel
  * ([[graft.sources.Wire.paragraphsArrayData]] / [[Segregate.sentKeepBytes]])
  * is pinned to. */
object ParagraphReference {
  private val sentPat = java.util.regex.Pattern.compile("[.!?]+(\\s+|$)")
  private val wordPat = java.util.regex.Pattern.compile("[^\\p{L}]+")
  private val stop = Segregate.Stopwords.toSet

  /** Non-blank segments of the sentence-boundary split. */
  def sentenceCount(content: String): Int = sentPat.split(content).count(_.trim.nonEmpty)

  /** Non-stopword tokens of the lowercased \p{L}-run split. */
  def contentWordCount(content: String): Int =
    wordPat.split(content.toLowerCase).count(w => w.nonEmpty && !stop.contains(w))

  def keep(content: String, minSents: Int = 3, minWords: Int = 30): Boolean =
    sentenceCount(content) >= minSents || contentWordCount(content) >= minWords

  /** segregateDoc + the regex filter. */
  def paragraphs(d: Doc, minSents: Int = 3, minWords: Int = 30): Seq[Paragraph] =
    Segregate.segregateDoc(d.doc_id, "plain", d.spans).filter(p => keep(p.content, minSents, minWords))

  // ---- the same definitions as Column expressions ----

  def sentenceCount(content: Column): Column =
    size(filter(split(content, "[.!?]+(\\s+|$)"), s => length(trim(s)) > 0))

  def contentWordCount(content: Column): Column = {
    val words = split(lower(content), "[^\\p{L}]+")
    size(filter(words, w => length(w) > 0 && !w.isin(Segregate.Stopwords.map(lit): _*)))
  }

  def sentCountFilter(paras: DataFrame, minSents: Int = 3, minWords: Int = 30): DataFrame =
    paras.filter(
      sentenceCount(col("content")) >= minSents ||
        contentWordCount(col("content")) >= minWords)
}
