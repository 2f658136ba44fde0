package graft.functions

import java.lang.reflect.{InvocationTargetException, Method}

import org.apache.spark.sql.{Column, GraftExprBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types._

/** The child type a kernel accepts at one input position; `what` names it
  * in the type-check failure.
  */
sealed abstract class Input(val what: String) extends Serializable {
  def accepts(t: DataType): Boolean
}

object Input {
  case object Str extends Input("a string input") {
    def accepts(t: DataType): Boolean = t == StringType
  }
  /** A float or double vector. The kernel takes it followed by an `isF`
    * flag, true for array<float>, fixed from the child's type after
    * analysis and inlined as a literal.
    */
  case object Vec extends Input("array<float> or array<double> input") {
    def accepts(t: DataType): Boolean = t match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
      case _ => false
    }
  }
  case object Codes extends Input("array<int> codes") {
    def accepts(t: DataType): Boolean = t match {
      case ArrayType(IntegerType, _) => true
      case _ => false
    }
  }
  case object Dbl extends Input("a double scale") {
    def accepts(t: DataType): Boolean = t == DoubleType
  }
}

/** A constant kernel argument, passed after the inputs. */
sealed trait Param extends Serializable { def name: String }

object Param {
  /** An int, inlined as a literal in generated code; from SQL it must be
    * an integer literal. Values below `min` are rejected when the
    * expression is built.
    */
  final case class IntArg(name: String, min: Int = Int.MinValue) extends Param
  /** An object (a model, a table of centroids, …) that generated code
    * reaches through `ctx.addReferenceObj`; not expressible in SQL.
    */
  final case class Ref(name: String, cls: Class[_]) extends Param
}

/** One row of the [[Natives]] table: everything the generic
  * [[NativeExpr]] needs to stand for one `graft_*` function.
  *
  * @param name     the SQL name, also the expression's `prettyName`
  * @param kernel   the static method it calls, as written in Java
  *                 (`graft.functions.SimHash64.compute`)
  * @param inputs   the accepted child types, in order
  * @param dataType the result type
  * @param params   the constant arguments after the inputs
  * @param nulls    the kernel may return null (a boxed primitive or a
  *                 null object), which becomes SQL NULL
  * @param sql      registered by `GraftExprBridge.registerAll`
  */
final case class NativeFn(name: String, kernel: String, inputs: Seq[Input],
                          dataType: DataType, params: Seq[Param] = Nil,
                          nulls: Boolean = false, sql: Boolean = false) {

  def arity: Int = inputs.size + params.size

  def signature: String =
    (inputs.map(_.what) ++ params.map(_.name)).mkString(s"$name(", ", ", ")")

  /** Column wrapper: the input columns, then one value per param. */
  def apply(args: Any*): Column = {
    val (cols, consts) = args.splitAt(inputs.size)
    val children = cols.map {
      case c: Column => GraftExprBridge.expression(c)
      case other => throw new IllegalArgumentException(
        s"$signature takes a column here, got $other")
    }
    GraftExprBridge.column(build(children, consts))
  }

  /** SQL builder: the input expressions, then one integer literal per
    * param.
    */
  def fromSql(args: Seq[Expression]): Expression = {
    if (args.size != arity) throw new IllegalArgumentException(
      s"$name takes $arity arguments, $signature, got ${args.size}")
    val consts = params.zip(args.drop(inputs.size)).map {
      case (_: Param.IntArg, Literal(v: Int, _)) => v
      case (p, other) => throw new IllegalArgumentException(
        s"$name: ${p.name} must be an integer literal, got $other")
    }
    build(args.take(inputs.size), consts)
  }

  private def build(children: Seq[Expression], consts: Seq[Any]): NativeExpr = {
    require(children.size == inputs.size && consts.size == params.size,
      s"$signature got ${children.size} columns and ${consts.size} constants")
    params.zip(consts).foreach {
      case (Param.IntArg(p, min), v: Int) =>
        require(v >= min, s"$name requires $p >= $min")
      case (Param.Ref(_, cls), v) if cls.isInstance(v) => ()
      case (p, v) => throw new IllegalArgumentException(
        s"$signature: ${p.name} got $v")
    }
    NativeExpr(this, children, consts)
  }
}

/** The one Catalyst expression behind every `graft_*` function: it calls
  * its row's static kernel, by reflection in `eval` and by a direct call
  * in generated code, as Spark's `StaticInvoke` does. The kernel's
  * arguments are each input value (a [[Input.Vec]] followed by its
  * `isF` flag), then the constants: ints and flags as literals, objects
  * through `ctx.addReferenceObj`. A null input gives a null result
  * without calling the kernel; a null from the kernel is SQL NULL.
  */
case class NativeExpr(fn: NativeFn, children: Seq[Expression],
                      consts: Seq[Any]) extends Expression {

  override def prettyName: String = fn.name
  override def dataType: DataType = fn.dataType
  override def nullable: Boolean = fn.nulls || children.exists(_.nullable)
  override def foldable: Boolean = children.forall(_.foldable)
  override protected def stringArgs: Iterator[Any] =
    children.iterator ++ consts.iterator

  override def checkInputDataTypes(): TypeCheckResult =
    fn.inputs.zip(children).collectFirst {
      case (in, c) if !in.accepts(c.dataType) =>
        TypeCheckResult.TypeCheckFailure(
          s"${fn.name} requires ${in.what}, got ${c.dataType}")
    }.getOrElse(TypeCheckResult.TypeCheckSuccess)

  /** The kernel's argument list, with `values` standing for the inputs. */
  private def arguments[A](values: Seq[A], flag: Boolean => A,
                           const: (Param, Any) => A): Seq[A] =
    children.indices.flatMap { i =>
      if (fn.inputs(i) != Input.Vec) Seq(values(i))
      else Seq(values(i), flag(children(i).dataType match {
        case ArrayType(FloatType, _) => true
        case _ => false
      }))
    } ++ fn.params.zip(consts).map(const.tupled)

  @transient private lazy val method: Method = {
    val dot = fn.kernel.lastIndexOf('.')
    val classes = arguments[Class[_]](
      children.map(c => CodeGenerator.javaClass(c.dataType)),
      _ => java.lang.Boolean.TYPE,
      {
        case (_: Param.IntArg, _) => java.lang.Integer.TYPE
        case (r: Param.Ref, _) => r.cls
      })
    Class.forName(fn.kernel.substring(0, dot))
      .getMethod(fn.kernel.substring(dot + 1), classes: _*)
  }

  override def eval(input: InternalRow): Any = {
    val values = children.map(_.eval(input))
    if (values.contains(null)) null
    else {
      val args = arguments[Any](values, f => f, (_, v) => v)
      try method.invoke(null, args.map(_.asInstanceOf[AnyRef]): _*)
      catch { case e: InvocationTargetException => throw e.getCause }
    }
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val evals = children.map(_.genCode(ctx))
    val args = arguments[String](evals.map(_.value.toString), _.toString, {
      case (_: Param.IntArg, v) => v.toString
      case (r: Param.Ref, v) =>
        ctx.addReferenceObj(r.name, v, CodeGenerator.typeName(r.cls))
    })
    val call = s"${fn.kernel}(${args.mkString(", ")})"
    val javaType = CodeGenerator.javaType(dataType)
    val result =
      if (!fn.nulls) s"${ev.value} = $call;"
      else if (CodeGenerator.isPrimitiveType(dataType)) {
        val r = ctx.freshName("r")
        s"""${CodeGenerator.boxedType(dataType)} $r = $call;
           |if ($r == null) { ${ev.isNull} = true; }
           |else { ${ev.value} = $r.${javaType}Value(); }""".stripMargin
      } else
        s"""${ev.value} = $call;
           |if (${ev.value} == null) { ${ev.isNull} = true; }""".stripMargin
    val init = s"$javaType ${ev.value} = ${CodeGenerator.defaultValue(dataType)};"
    if (nullable) {
      val guarded = children.zip(evals).foldRight(
          s"${ev.isNull} = false;\n$result") { case ((c, e), inner) =>
        s"${e.code}\n${ctx.nullSafeExec(c.nullable, e.isNull.toString)(inner)}"
      }
      ev.copy(code = code"""
        boolean ${ev.isNull} = true;
        $init
        $guarded""")
    } else
      ev.copy(code = code"""
        ${evals.map(_.code.toString).mkString("\n")}
        $init
        $result""", isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): NativeExpr =
    copy(children = newChildren)
}

/** Every `graft_*` native expression, one row each. A new expression is
  * a row here plus its static kernel; the Column wrapper is the row
  * itself (`Natives.simhash64(col("text"))`), SQL registration and the
  * interpreted-vs-codegen parity property iterate [[all]].
  */
object Natives {
  import Input._
  import Param._

  private def longs = ArrayType(LongType, containsNull = false)
  private def ints = ArrayType(IntegerType, containsNull = false)

  val simhash64 = NativeFn("graft_simhash64",
    "graft.functions.SimHash64.compute", Seq(Str), LongType, sql = true)
  val rollingHash64 = NativeFn("graft_rolling_hash64",
    "graft.functions.RollingHash64.compute", Seq(Str), LongType, sql = true)
  val canonicalUrl = NativeFn("graft_canonical_url",
    "graft.functions.CanonicalUrl.compute", Seq(Str), StringType)
  val langGuess = NativeFn("graft_lang_guess",
    "graft.functions.LangGuess.compute", Seq(Str), StringType)
  val langId = NativeFn("graft_langid",
    "graft.functions.TrigramLangId.classifyUtf8", Seq(Str), StringType,
    sql = true)
  val minhashSig = NativeFn("graft_minhash_sig",
    "graft.functions.MinHashSig.compute", Seq(Str), longs,
    Seq(IntArg("w", min = 1), IntArg("k", min = 1)), nulls = true, sql = true)
  val shingleHashes = NativeFn("graft_shingle_hashes",
    "graft.functions.ShingleHashes.compute", Seq(Str), longs,
    Seq(IntArg("w", min = 1)), sql = true)
  val textEmbed = NativeFn("graft_text_embed",
    "graft.functions.TextEmbed.compute", Seq(Str),
    ArrayType(FloatType, containsNull = false),
    Seq(IntArg("dim", min = 1)), nulls = true, sql = true)
  val termFreqs = NativeFn("graft_term_freqs",
    "graft.functions.TermFreqs.compute", Seq(Str), ints,
    Seq(Ref("terms", classOf[Array[Array[Byte]]])))
  val bpeTokenize = NativeFn("graft_bpe_tokenize",
    "graft.functions.BpeTokenize.compute", Seq(Str),
    ArrayType(StringType, containsNull = false),
    Seq(Ref("bpeModel", classOf[BpeTokenize.Model])))
  val ngramLmScore = NativeFn("graft_ngram_lm_score",
    "graft.functions.NgramLmScore.compute", Seq(Str), DoubleType,
    Seq(Ref("lmModel", classOf[NgramLm])), nulls = true)
  val cosine = NativeFn("graft_cosine",
    "graft.functions.VecKernels.cosine", Seq(Vec, Vec), DoubleType,
    nulls = true)
  val sq8Scale = NativeFn("graft_sq8_scale",
    "graft.functions.VecKernels.sq8Scale", Seq(Vec), DoubleType)
  val sq8Codes = NativeFn("graft_sq8_codes",
    "graft.functions.VecKernels.sq8Codes", Seq(Vec, Dbl), ints)
  val codeCosine = NativeFn("graft_code_cosine",
    "graft.functions.VecKernels.codeCosine", Seq(Codes, Codes), DoubleType,
    nulls = true)
  val hyperplaneSketch = NativeFn("graft_hyperplane_sketch",
    "graft.functions.VecKernels.hyperplaneSketch", Seq(Vec), LongType,
    Seq(IntArg("nPlanes")))
  val bestCell = NativeFn("graft_best_cell",
    "graft.functions.VecKernels.bestCell", Seq(Vec), LongType,
    Seq(Ref("cents", classOf[Array[Array[Double]]]),
      Ref("ids", classOf[Array[Long]])), nulls = true)
  val pqEncode = NativeFn("graft_pq_encode",
    "graft.functions.VecKernels.pqCodes", Seq(Vec), ints,
    Seq(Ref("books", classOf[Array[Array[Array[Double]]]])))
  val adcScore = NativeFn("graft_adc_score",
    "graft.functions.VecKernels.adcScore", Seq(Codes), DoubleType,
    Seq(Ref("lut", classOf[Array[Array[Double]]])))

  val all: Seq[NativeFn] = Seq(simhash64, rollingHash64, canonicalUrl,
    langGuess, langId, minhashSig, shingleHashes, textEmbed, termFreqs,
    bpeTokenize, ngramLmScore, cosine, sq8Scale, sq8Codes, codeCosine,
    hyperplaneSketch, bestCell, pqEncode, adcScore)
}
