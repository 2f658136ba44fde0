package graft

import graft.functions.{BpeTokenize, Input, NativeFn, Natives, NgramLm, Param}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** One property over the whole [[Natives]] table: for every row and
  * every generated batch of inputs, interpreted evaluation (reflection
  * into the kernel) and generated code give the same result, or both
  * fail with the same root cause. A new row is covered as long as its
  * param kinds have a generator below; an unknown kind fails the test.
  */
class NativeParitySpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val Dim = 4

  private val genStr: Gen[String] = Gen.frequency(
    1 -> Gen.const(null), 1 -> Gen.const(""), 1 -> Gen.const("   "),
    2 -> Gen.oneOf("naïve 中文 emoji🙂 x", "der und ist le", "ひらがな 中文",
      " a  b ", "HTTP://Ex.com:80/p/?utm_x=1&a=2&ref=3#frag"),
    3 -> Gen.listOf(Gen.oneOf("a", "b", "hash", "the", "cat", "中文", "",
      "🙂", "Ünï")).map(_.mkString(" ")),
    1 -> Gen.alphaStr.map(s => (s + " a ") * 200))

  private val genElem: Gen[java.lang.Double] = Gen.frequency(
    8 -> Gen.choose(-2.0, 2.0).map(Double.box),
    1 -> Gen.const(null), 1 -> Gen.const(Double.box(Double.NaN)))

  private def orNull[T](g: Gen[T]): Gen[Any] =
    Gen.frequency(9 -> g, 1 -> Gen.const(null))

  private def genValue(t: DataType): Gen[Any] = t match {
    case StringType => genStr
    case ArrayType(e, _) if e != IntegerType => orNull(for {
      n <- Gen.oneOf(Dim, Dim, Dim, 0, Dim - 1, Dim + 1)
      xs <- Gen.listOfN(n, genElem)
    } yield if (e == FloatType)
      xs.map(x => if (x == null) null else Float.box(x.floatValue)) else xs)
    case ArrayType(IntegerType, _) => orNull(
      Gen.oneOf(Dim, Dim, Dim - 1, Dim + 1)
        .flatMap(n => Gen.listOfN(n, Gen.choose(0, Dim - 1))))
    case DoubleType => Gen.frequency(8 -> Gen.choose(-3.0, 3.0),
      1 -> Gen.const(null), 1 -> Gen.const(Double.NaN))
  }

  private def genType(in: Input): Gen[DataType] = in match {
    case Input.Str => Gen.const(StringType)
    case Input.Vec => Gen.oneOf(ArrayType(FloatType), ArrayType(DoubleType))
    case Input.Codes => Gen.const(ArrayType(IntegerType))
    case Input.Dbl => Gen.const(DoubleType)
  }

  private def genParam(p: Param): Gen[Any] = p match {
    case Param.IntArg(_, min) => Gen.choose(math.max(min, 1), 6)
    case Param.Ref(_, c) if c == classOf[Array[Array[Byte]]] =>
      Gen.const(Array("hash", "a", "中文", "").map(_.getBytes("UTF-8")))
    case Param.Ref(_, c) if c == classOf[BpeTokenize.Model] =>
      Gen.const(new BpeTokenize.Model(Seq(("a", "b"), ("h", "a"), ("t", "h"))))
    case Param.Ref(_, c) if c == classOf[NgramLm] =>
      Gen.const(NgramLm(Map("a" -> 3L, "the" -> 2L), Map("the a" -> 1L), 10L))
    case Param.Ref(_, c) if c == classOf[Array[Array[Double]]] =>
      Gen.const(Array.tabulate(Dim, Dim)((i, j) => ((i * 7 + j * 3) % 5 - 2).toDouble))
    case Param.Ref(_, c) if c == classOf[Array[Long]] =>
      Gen.const(Array.tabulate(Dim)(10L + _))
    case Param.Ref(_, c) if c == classOf[Array[Array[Array[Double]]]] =>
      Gen.const(Array.tabulate(2, 3, Dim / 2)((j, c, i) => (j + c * i - 1).toDouble))
    case other => fail(s"no generator for param $other")
  }

  private def seqOf[T](gs: Seq[Gen[T]]): Gen[List[T]] =
    gs.foldRight(Gen.const(List.empty[T])) { (g, acc) =>
      for (x <- g; rest <- acc) yield x :: rest }

  /** Bit-level canonical form: NaN == NaN, -0.0 != 0.0. */
  private def canon(v: Any): Any = v match {
    case d: Double => java.lang.Double.doubleToLongBits(d)
    case f: Float => java.lang.Float.floatToIntBits(f)
    case s: scala.collection.Seq[_] => s.map(canon).toList
    case r: Row => r.toSeq.map(canon).toList
    case other => other
  }

  private def run(q: () => DataFrame, factory: String,
                  wholeStage: Boolean): Either[String, List[Any]] = {
    spark.conf.set("spark.sql.codegen.factoryMode", factory)
    spark.conf.set("spark.sql.codegen.wholeStage", wholeStage.toString)
    try Right(q().collect().toList.map(canon))
    catch { case e: Throwable =>
      Left(Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
        .toSeq.last.getClass.getName)
    } finally {
      spark.conf.unset("spark.sql.codegen.factoryMode")
      spark.conf.unset("spark.sql.codegen.wholeStage")
    }
  }

  private def parity(fn: NativeFn): Prop = {
    val genCase = for {
      types <- seqOf(fn.inputs.map(genType))
      params <- seqOf(fn.params.map(genParam))
      rows <- Gen.listOfN(12, seqOf(types.map(genValue)))
    } yield (types, params, rows)
    Prop.forAll(genCase) { case (types, params, rows) =>
      val schema = StructType(types.zipWithIndex.map { case (t, i) =>
        StructField(s"c$i", t) })
      val q = () => spark.createDataFrame(
          spark.sparkContext.parallelize(rows.map(Row.fromSeq), 2), schema)
        .select(fn(schema.fieldNames.map(col) ++ params: _*).as("r"))
      val interpreted = run(q, "NO_CODEGEN", wholeStage = false)
      val generated = run(q, "CODEGEN_ONLY", wholeStage = true)
      Prop(interpreted == generated) :|
        s"${fn.name} $types: $interpreted vs $generated"
    }
  }

  test("every Natives row: interpreted eval == generated code") {
    spark.sparkContext.setLogLevel("ERROR")
    Natives.all.foreach { fn =>
      val res = Test.check(
        Test.Parameters.default.withMinSuccessfulTests(4).withWorkers(1),
        parity(fn))
      assert(res.passed, s"${fn.name}: ${org.scalacheck.util.Pretty.pretty(res)}")
    }
  }
}
