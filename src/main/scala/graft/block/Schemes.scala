package graft.block

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Blocking-scheme functions — the reference's PL/Python UDF menu
  * (oagdedupe db/postgres/funcs.py:8-117, menu block/schemes.py:48-59)
  * re-expressed as pure built-in Catalyst expressions so they stay
  * inside whole-stage codegen (no UDFs in the hot path).
  *
  * A scheme maps one string attribute to a signature: a scalar string
  * (equality blocking) or an array of strings (set-overlap blocking,
  * realized downstream by explode + equi-join, mirroring
  * simple/signatures.py:9-15 SetSignature.__eq__).
  */
sealed trait Scheme {
  /** column name in the forward index, reference naming convention
    * `{scheme}_{n}_{attr}` (block/schemes.py:15-31). */
  def name(attr: String): String
  def expr(attr: String): Column
  /** true iff the signature is an array (needs explode). */
  def isArray: Boolean = false
  /** DuckDB SQL for the same signature over column `attr`. */
  def sql(attr: String): String
}

/** s[:n] — funcs.py:23-31. */
final case class FirstNChars(n: Int) extends Scheme {
  def name(attr: String) = s"first_nchars_${n}_$attr"
  def expr(attr: String): Column = substring(col(attr), 1, n)
  def sql(attr: String) = s"substring($attr, 1, $n)"
}

/** s[-n:] — funcs.py:33-41 (whole string when shorter than n). */
final case class LastNChars(n: Int) extends Scheme {
  def name(attr: String) = s"last_nchars_${n}_$attr"
  def expr(attr: String): Column = substring(col(attr), -n, n)
  def sql(attr: String) =
    s"CASE WHEN length($attr) <= $n THEN $attr " +
      s"ELSE substring($attr, length($attr) - ${n - 1}, $n) END"
}

/** all char n-grams, empty array when len<n — funcs.py:43-51. */
final case class FindNgrams(n: Int) extends Scheme {
  def name(attr: String) = s"find_ngrams_${n}_$attr"
  override def isArray = true
  def expr(attr: String): Column =
    when(length(col(attr)) >= n,
      transform(sequence(lit(1), length(col(attr)) - lit(n - 1)),
        i => substring(col(attr), i, lit(n))))
      .otherwise(array().cast("array<string>"))
  /** DuckDB list comprehension (range is upper-exclusive; empty when
    * len < n). */
  def sql(attr: String) =
    s"[substring($attr, i, $n) FOR i IN range(1, greatest(length($attr) - ${n - 2}, 1))]"
}

/** first char of each whitespace token, concatenated — funcs.py:53-61. */
case object Acronym extends Scheme {
  def name(attr: String) = s"acronym_$attr"
  def expr(attr: String): Column =
    array_join(
      transform(filter(split(col(attr), " "), w => w =!= ""),
        w => substring(w, 1, 1)), "")
  def sql(attr: String) =
    s"array_to_string(list_transform(list_filter(string_split($attr, ' '), " +
      s"w -> w != ''), w -> substring(w, 1, 1)), '')"
}

/** identity — funcs.py:63-71. */
case object ExactMatch extends Scheme {
  def name(attr: String) = s"exactmatch_$attr"
  def expr(attr: String): Column = col(attr)
  def sql(attr: String) = attr
}

/** first letter of first word — simple/schemes.py:6-7. */
case object FirstLetterFirstWord extends Scheme {
  def name(attr: String) = s"first_letter_first_word_$attr"
  def expr(attr: String): Column =
    substring(element_at(split(col(attr), " "), 1), 1, 1)
  def sql(attr: String) = s"substring(string_split($attr, ' ')[1], 1, 1)"
}

/** A scheme bound to an attribute — one forward-index column. */
final case class BoundScheme(scheme: Scheme, attr: String) {
  def name: String = scheme.name(attr)
  def expr: Column = scheme.expr(attr).as(name)
  def isArray: Boolean = scheme.isArray
  def sql: String = scheme.sql(attr)

  /** The record's VALID signatures as one array<string>: array schemes
    * deduped and cleared of null/"", a scalar scheme as a 1-element
    * array, or empty when it is null/"" — exactly the rows
    * [[Blocking.invertedIndex]] keeps, as a set per record. */
  def sigArray: Column = {
    val e = scheme.expr(attr)
    if (isArray) filter(array_distinct(e), s => s.isNotNull && s =!= "")
    else when(e.isNotNull && e =!= "", array(e))
      .otherwise(array().cast("array<string>"))
  }
}

object Schemes {
  /** The reference's fixed scheme menu (block/schemes.py:48-59):
    * first_nchars×{2,4,6}, last_nchars×{2,4,6}, find_ngrams×{4,6,8},
    * acronym, exactmatch — 11 per attribute.
    */
  val menu: Seq[Scheme] = Seq(
    FirstNChars(2), FirstNChars(4), FirstNChars(6),
    LastNChars(2), LastNChars(4), LastNChars(6),
    FindNgrams(4), FindNgrams(6), FindNgrams(8),
    Acronym, ExactMatch)

  def forAttributes(attrs: Seq[String]): Seq[BoundScheme] =
    for (a <- attrs; s <- menu) yield BoundScheme(s, a)

  def byName(attrs: Seq[String]): Map[String, BoundScheme] =
    forAttributes(attrs).map(b => b.name -> b).toMap
}
