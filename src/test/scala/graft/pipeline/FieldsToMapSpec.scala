package graft.pipeline

import scala.util.Random

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.MapData
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

import graft.SparkSpec

/** [[FieldsToMap]] against the array-function chain it replaced
  * ([[FieldsMapOracle]]), row by row over generated inputs; the chain sees
  * each input without its null-named fields, which the map skips. */
class FieldsToMapSpec extends SparkSpec {

  private val field = StructType(Seq(StructField("name", StringType),
    StructField("newValue", StringType), StructField("oldValue", StringType)))
  private val input = StructType(Seq(StructField("fields", ArrayType(field)),
    StructField("compositePk", MapType(StringType, StringType))))

  /** Small name and value alphabets, so duplicates, PK overrides and nulls
    * are common. */
  private def cases(n: Int, seed: Long): Seq[Row] = {
    val rnd = new Random(seed)
    def name(nulls: Boolean): String =
      if (nulls && rnd.nextInt(12) == 0) null else Seq("a", "b", "c", "d", "")(rnd.nextInt(5))
    def value: String = if (rnd.nextInt(5) == 0) null else s"v${rnd.nextInt(4)}"
    Seq.fill(n) {
      val nulls = rnd.nextInt(3) == 0
      val fields =
        if (rnd.nextInt(15) == 0) null
        else Seq.fill(rnd.nextInt(7)) {
          if (nulls && rnd.nextInt(20) == 0) null else Row(name(nulls), value, "old")
        }
      val pk = rnd.nextInt(4) match {
        case 0 => null
        case 1 => Map.empty[String, String]
        case _ => Seq.fill(1 + rnd.nextInt(2))(name(nulls = false) -> value).toMap
      }
      Row(fields, pk)
    }
  }

  /** The map's entries in order, or the error (class and message). */
  private def outcome(eval: Any => Any, row: Any): Either[(String, String), Seq[(String, String)]] =
    try Right(Option(eval(row).asInstanceOf[MapData]).map { m =>
      (0 until m.numElements()).map { i =>
        (m.keyArray().getUTF8String(i).toString,
          if (m.valueArray().isNullAt(i)) null else m.valueArray().getUTF8String(i).toString)
      }
    }.orNull)
    catch { case t: Throwable => Left((t.getClass.getName, t.getMessage)) }

  test("the codegen'd fields map equals the array-function chain on every input") {
    val Seq((oracleField, oracle), (newField, fresh)) = ColumnBridge.bind(spark, input, Seq(
      FieldsMapOracle.fieldsToMap(col("fields"), col("compositePk")),
      ChangePipeline.fieldsToMap(col("fields"), col("compositePk"))))
    assert(newField.dataType === oracleField.dataType)
    assert(newField.nullable === oracleField.nullable)
    val generated = UnsafeProjection.create(Seq(fresh))
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(input)
    def interpreted(e: Expression)(r: Any): Any = e.eval(r.asInstanceOf[InternalRow])
    def compiled(r: Any): Any = {
      val out = generated(r.asInstanceOf[InternalRow])
      if (out.isNullAt(0)) null else out.getMap(0)
    }

    val rows = cases(3000, 20261019L) ++ Seq(
      Row(Seq(Row("a", "1", ""), Row("a", "2", ""), Row("b", null, "")), Map("a" -> "pk")),
      Row(null, Map("a" -> "pk")),
      Row(Seq(Row("a", "1", "")), null),
      Row(Seq.empty, Map.empty),
      Row(Seq(Row(null, "1", ""), Row("a", "2", "")), null),
      Row(Seq(Row("a", "2", ""), Row(null, "1", "")), null),
      Row(Seq(Row("a", "2", ""), Row(null, "1", "")), Map("k" -> "v")),
      Row(Seq(Row("a", "2", ""), null, Row("b", "3", "")), null),
      Row(Seq(Row("a", "2", ""), null), null))
    // a null field struct or a null name is skipped; the chain gets the
    // input without them, since its three-valued `exists` drops or fails
    def named(r: Row): Row = Option(r.getSeq[Row](0)).fold(r) { fs =>
      Row(fs.filter(f => f != null && f.getString(0) != null), r.get(1))
    }
    var skipped = 0
    rows.foreach { r =>
      val in = toCatalyst(r)
      if (named(r) != r) skipped += 1
      val want = outcome(interpreted(oracle), toCatalyst(named(r)))
      assert(want.isRight, s"the chain fails on $r")
      assert(outcome(interpreted(fresh), in) === want, s"interpreted, input $r")
      assert(outcome(compiled, in) === want, s"generated, input $r")
    }
    assert(skipped > 0 && skipped < rows.size / 4, s"$skipped of ${rows.size} inputs skip an entry")
    assert(outcome(interpreted(fresh),
        toCatalyst(Row(Seq(Row("a", "2", ""), Row(null, "1", "")), Map("k" -> "v")))) ===
      Right(Seq("a" -> "2", "k" -> "v")))
  }

  test("inside a query the fields map is generated, not interpreted, and agrees with the chain") {
    val ok = cases(400, 7L).filter { r =>
      val fs = Option(r.getSeq[Row](0)).getOrElse(Nil)
      fs.forall(f => f != null && f.getString(0) != null)
    }
    val df = spark.createDataFrame(spark.sparkContext.parallelize(ok, 2), input)
    val both = df.select(
      FieldsMapOracle.fieldsToMap(col("fields"), col("compositePk")).as("want"),
      ChangePipeline.fieldsToMap(col("fields"), col("compositePk")).as("got"))
    val rows = both.collect()
    assert(rows.length === ok.size && rows.forall(r => r.get(0) == r.get(1)))
    // whole-stage codegen also wraps CodegenFallback expressions, so look at
    // the expressions: the chain's transform/filter/exists are CodegenFallback
    def fallbacks(c: Column): Seq[String] =
      df.select(c).queryExecution.executedPlan.flatMap(_.expressions)
        .flatMap(_.collect { case e: CodegenFallback => e.prettyName })
    assert(fallbacks(FieldsMapOracle.fieldsToMap(col("fields"), col("compositePk"))).nonEmpty)
    val plan = df.select(ChangePipeline.fieldsToMap(col("fields"), col("compositePk")))
      .queryExecution.executedPlan
    assert(fallbacks(ChangePipeline.fieldsToMap(col("fields"), col("compositePk"))).isEmpty,
      plan.toString)
    assert(plan.collectFirst { case w: WholeStageCodegenExec => w }.nonEmpty, plan.toString)
  }
}
