package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.graftx.Bridge
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the text-analysis surface.
  *
  * Each generates a direct static call in whole-stage codegen (no UDF
  * serialization, no codegen fallback), per the preference order in
  * SURVEY §2.B B20: built-in > native Expression > UDF.
  */
abstract class StringToLongExpression extends UnaryExpression {
  override def dataType: DataType = LongType
  /** fully-qualified static method on TextAlgo taking a String */
  protected def staticName: String
  protected def compute(s: String): Long

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[UTF8String].toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.TextAlgo.$staticName($c.toString())")
}

/** Rabin–Karp rolling hash of the whole string → Long. */
case class RollingHash(child: Expression) extends StringToLongExpression {
  protected def staticName = "rollingHash"
  protected def compute(s: String): Long = TextAlgo.rollingHash(s)
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "rolling_hash"
}

/** Minimum rolling hash over 16-char windows (winnowing sketch). */
case class DocFingerprint(child: Expression) extends StringToLongExpression {
  protected def staticName = "docFingerprint"
  protected def compute(s: String): Long = TextAlgo.docFingerprint(s)
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "doc_fingerprint"
}

/** 64-bit SimHash over whitespace tokens. */
case class SimHash64(child: Expression) extends StringToLongExpression {
  protected def staticName = "simHash64"
  protected def compute(s: String): Long = TextAlgo.simHash64(s)
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "simhash64"
}

/** Distinct k-word-shingle hashes → array<long> in one pass (no
  * per-shingle string materialization — the built-in equivalent
  * transform+concat_ws+explode+xxhash64 allocates every shingle). */
case class WordShingleHashes(child: Expression, k: Int)
    extends UnaryExpression {
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(LongType, containsNull = false)
  override protected def nullSafeEval(input: Any): Any =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      TextAlgo.wordShingleHashes(input.asInstanceOf[UTF8String].toString, k))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      "new org.apache.spark.sql.catalyst.util.GenericArrayData(" +
        s"graft.functions.TextAlgo.wordShingleHashes($c.toString(), $k))")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "word_shingle_hashes"
}

/** Per-position (multiplicity-keeping) k-word-shingle hashes →
  * array<long>; the frequency-counting sibling of WordShingleHashes. */
case class WordNgramHashes(child: Expression, k: Int)
    extends UnaryExpression {
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(LongType, containsNull = false)
  override protected def nullSafeEval(input: Any): Any =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      TextAlgo.wordNgramHashes(input.asInstanceOf[UTF8String].toString, k))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      "new org.apache.spark.sql.catalyst.util.GenericArrayData(" +
        s"graft.functions.TextAlgo.wordNgramHashes($c.toString(), $k))")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "word_ngram_hashes"
}

/** K-word n-grams whose hash is in a (sorted) candidate set, strings
  * materialized only on match — the pass-2 side of hash-first n-gram
  * counting: pass 1 counts 8-byte hashes, pass 2 recovers the winners'
  * strings without allocating the 99.99% that lost. */
case class WordNgramFiltered(child: Expression, k: Int, keepSorted: Array[Long])
    extends UnaryExpression {
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(StringType, containsNull = false)
  override protected def nullSafeEval(input: Any): Any =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      TextAlgo.wordNgramFilteredUtf8(
        input.asInstanceOf[UTF8String].toString, k, keepSorted))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // the candidate array rides along as a referenced object — codegen
    // keeps the whole stage fused instead of falling back to eval
    val keepRef = ctx.addReferenceObj("keepSorted", keepSorted, "long[]")
    defineCodeGen(ctx, ev, c =>
      "new org.apache.spark.sql.catalyst.util.GenericArrayData(" +
        s"graft.functions.TextAlgo.wordNgramFilteredUtf8($c.toString(), $k, $keepRef))")
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "word_ngram_filter"
}

/** Heuristic language identification → "en"/"de"/"fr"/"es"/"zh"/"und". */
case class LangId(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override protected def nullSafeEval(input: Any): Any =
    UTF8String.fromString(
      TextAlgo.langId(input.asInstanceOf[UTF8String].toString))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      "org.apache.spark.unsafe.types.UTF8String.fromString(" +
        s"graft.functions.TextAlgo.langId($c.toString()))")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "lang_id"
}

/** Distinct whitespace tokens with their in-document counts →
  * array<struct<term string, tf int>> in one pass — the TF side of
  * corpus-weighted term scoring (TextOps.text_rarity). Computing TF
  * in-row means only DISTINCT (doc, term) pairs ever leave the scan,
  * instead of shuffling every token occurrence. */
case class TokenTf(child: Expression) extends UnaryExpression {
  override def dataType: DataType = TokenTf.OutType
  override protected def nullSafeEval(input: Any): Any =
    TokenTf.eval(input.asInstanceOf[UTF8String].toString)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    // through the module instance: the case class's own eval(InternalRow)
    // keeps Scala from emitting a static TokenTf.eval(String) forwarder
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.TokenTf$$.MODULE$$.eval($c.toString())")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "token_tf"
}

object TokenTf {
  import org.apache.spark.sql.types.{ArrayType, IntegerType, StructField, StructType}
  val OutType: DataType = ArrayType(StructType(Seq(
    StructField("term", StringType, nullable = false),
    StructField("tf", IntegerType, nullable = false))), containsNull = false)
  /** Entry point shared by the interpreted path and codegen. */
  def eval(s: String): org.apache.spark.sql.catalyst.util.ArrayData =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      TextAlgo.tokenTf(s).map { case (t, n) =>
        org.apache.spark.sql.catalyst.InternalRow(UTF8String.fromString(t), n)
      })
}

/** Column-API + SQL registration for the graft functions. */
object GraftFunctions {
  def rolling_hash(c: Column): Column = col(RollingHash(expression(c)))
  def doc_fingerprint(c: Column): Column = col(DocFingerprint(expression(c)))
  def simhash64(c: Column): Column = col(SimHash64(expression(c)))
  def lang_id(c: Column): Column = col(LangId(expression(c)))
  def word_shingle_hashes(c: Column, k: Int): Column =
    col(WordShingleHashes(expression(c), k))
  def word_ngram_hashes(c: Column, k: Int): Column =
    col(WordNgramHashes(expression(c), k))
  def word_ngram_filter(c: Column, k: Int, keepSorted: Array[Long]): Column =
    col(WordNgramFiltered(expression(c), k, keepSorted))
  def token_tf(c: Column): Column = col(TokenTf(expression(c)))

  /** Spark's internal Bloom sketch aggregate (the engine behind its
    * own runtime row-level filtering), exposed as a Column function:
    * aggregates `xxhash64`-style Long hashes into a serialized Bloom
    * filter sized for `items` / `bits`. Undersizing only raises the
    * false-positive rate — never produces a false NEGATIVE, which is
    * the contract the prefilter pattern rests on. */
  def bloom_filter_agg(c: Column, items: Long, bits: Long): Column =
    col(new org.apache.spark.sql.catalyst.expressions.aggregate
      .BloomFilterAggregate(expression(c),
        org.apache.spark.sql.catalyst.expressions.Literal(items),
        org.apache.spark.sql.catalyst.expressions.Literal(bits))
      .toAggregateExpression())

  /** Probe of a Bloom sketch built by [[bloom_filter_agg]]. The sketch
    * side must be a one-row DataFrame — it is embedded as a scalar
    * subquery because Spark's BloomFilterMightContain requires a
    * foldable/subquery bloom input (it deserializes the filter once
    * and codegens the probe). */
  def bloom_might_contain(bf: org.apache.spark.sql.DataFrame,
      v: Column): Column =
    col(org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
      org.apache.spark.sql.catalyst.expressions.ScalarSubquery(
        Bridge.logicalPlan(bf)),
      expression(v)))

  private def col(e: Expression): Column = Bridge.column(e)
  private def expression(c: Column): Expression = Bridge.expression(c)

  // int literal argument (e.g. the k of an n-gram or top-k)
  private def intArg(e: Expression, what: String): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  /** (name, builder) for every SQL-exposed function — one list feeds
    * BOTH registration paths: [[register]] (temp functions on an
    * existing session) and [[graft.plans.GraftExtensions]]
    * (`spark.sql.extensions` injection at session build, so a SQL-only
    * deployment sets one conf and gets the whole surface). */
  private[graft] val sqlBuilders: Seq[(String, Seq[Expression] => Expression)] =
    Seq(
      "rolling_hash" -> ((es: Seq[Expression]) => RollingHash(es.head)),
      "doc_fingerprint" -> ((es: Seq[Expression]) => DocFingerprint(es.head)),
      "simhash64" -> ((es: Seq[Expression]) => SimHash64(es.head)),
      "lang_id" -> ((es: Seq[Expression]) => LangId(es.head)),
      "word_shingle_hashes" -> ((es: Seq[Expression]) =>
        WordShingleHashes(es(0), intArg(es(1), "k"))),
      "word_ngram_hashes" -> ((es: Seq[Expression]) =>
        WordNgramHashes(es(0), intArg(es(1), "k"))),
      "token_tf" -> ((es: Seq[Expression]) => TokenTf(es.head)),
      "cosine_sim" -> ((es: Seq[Expression]) => CosineSim(es(0), es(1))),
      "sim_signature" -> ((es: Seq[Expression]) =>
        SimSignature(es(0), intArg(es(1), "nBits"))),
      "sim_signature_words" -> ((es: Seq[Expression]) =>
        SimSignatureWords(es(0), intArg(es(1), "nBits"))),
      "minhash_agg" -> ((es: Seq[Expression]) =>
        MinHashAgg(es(0), intArg(es(1), "numHashes")).toAggregateExpression()),
      "topk_agg" -> ((es: Seq[Expression]) =>
        TopKAgg(es(0), es(1), intArg(es(2), "k")).toAggregateExpression()),
    )

  /** Makes the functions callable from SQL text too — the full custom
    * surface, so a SQL-only user loses nothing vs the Column API. */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    sqlBuilders.foreach { case (name, builder) =>
      reg.createOrReplaceTempFunction(name, builder, "scala_udf")
    }
  }
}
