package graft.ml

import org.apache.spark.ml.UnaryTransformer
import org.apache.spark.ml.param.{Param, ParamValidators, StringArrayParam}
import org.apache.spark.ml.util.{DefaultParamsReadable, DefaultParamsWritable, Identifiable}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}

import graft.ja.JaTokenizer

/** `spark.ml` pipeline stage for the NEologd Japanese tokenizer — the MLlib
  * face of the same kernel the SQL function `tokenize_ja_neologd` runs
  * (reference: `KuromojiNEologdUDF.java` is exactly this UDF; the north star
  * asks for the MLlib-pipeline form too, so the tokenizer composes with
  * `CountVectorizer`/`IDF`/`Word2Vec` stages and persists with the pipeline).
  *
  * Contract matches the SQL function (A3/A4/A5/A9): mode NORMAL/SEARCH/
  * EXTENDED, null stop overrides → reference defaults, empty array → no
  * filtering, null input row → null output. The analyzer is built lazily
  * once per JVM per distinct config by `JaTokenizer.shared`, the cache the
  * SQL function uses too (the A8 per-executor-init contract —
  * `createTransformFunc`'s closure captures only the plain config strings,
  * never the tokenizer, so the ~48 MiB expanded dictionary is heap-local to
  * each executor and the task binary stays small).
  */
class JaTokenizerTransformer(override val uid: String)
    extends UnaryTransformer[String, Seq[String], JaTokenizerTransformer]
    with DefaultParamsWritable {

  def this() = this(Identifiable.randomUID("ja_tok_neologd"))

  /** Tokenization mode, as the reference's first optional arg (UDF:90-101). */
  val mode: Param[String] = new Param[String](this, "mode",
    "tokenization mode: NORMAL | SEARCH | EXTENDED",
    ParamValidators.inArray(Array("NORMAL", "SEARCH", "EXTENDED")))

  /** Stop words; unset → the bundled reference default list (A4). */
  val stopWords: StringArrayParam = new StringArrayParam(this, "stopWords",
    "stop words; unset = reference default list, empty = no stop-word filtering")

  /** Stop POS tags; unset → the bundled reference default list (A5). */
  val stopTags: StringArrayParam = new StringArrayParam(this, "stopTags",
    "stop POS tag prefixes; unset = reference default list, empty = no POS filtering")

  setDefault(mode -> "NORMAL")

  def setMode(value: String): this.type = set(mode, value)
  def setStopWords(value: Array[String]): this.type = set(stopWords, value)
  def setStopTags(value: Array[String]): this.type = set(stopTags, value)
  def getMode: String = $(mode)

  override protected def createTransformFunc: String => Seq[String] = {
    // capture ONLY plain serializable config; the tokenizer resolves
    // per-JVM on first use (A8)
    val m = $(mode)
    val sw = if (isSet(stopWords)) $(stopWords).toSeq else null
    val st = if (isSet(stopTags)) $(stopTags).toSeq else null
    (s: String) =>
      if (s == null) null
      else JaTokenizer.shared(m, sw, st, null, null).tokenize(s).toSeq
  }

  override protected def validateInputType(inputType: DataType): Unit =
    require(inputType == StringType,
      s"JaTokenizerTransformer expects a string input column, got $inputType")

  override protected def outputDataType: DataType =
    ArrayType(StringType, containsNull = false)
}

object JaTokenizerTransformer extends DefaultParamsReadable[JaTokenizerTransformer] {

  override def load(path: String): JaTokenizerTransformer = super.load(path)
}
