package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._

import graft.functions.{AudioFeaturesExpr, ImageFeaturesExpr, VectorOps}
import graft.operators.Multimodal
import graft.sources.kinesis.{KinesisTableProvider, Kpl, Payload}

/** The native functions are kernels behind `StaticInvoke`: no Catalyst
  * expression under src/main carries a hand-written eval or codegen body,
  * the sorted merge walk exists once, and every function runs through
  * generated code with the interpreted fallback switched off.
  */
class NativeKernelSpec extends GraftSpec {

  private def mainSources: Seq[(String, String)] = {
    val root = Paths.get("src/main")
    assert(Files.isDirectory(root))
    Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => root.relativize(p).toString -> Files.readString(p)).toSeq
  }

  test("no hand-written eval or codegen body under src/main, and one sorted merge walk") {
    val sources = mainSources
    val bodies = """\b(doGenCode|nullSafeEval|nullSafeCodeGen|defineCodeGen)\b""".r
    assert(sources.flatMap { case (f, t) => bodies.findAllIn(t).map(f + ": " + _) }.isEmpty)
    val walk = """while \(\w+ < \w+ && \w+ < \w+\)""".r
    val walks = sources.map { case (f, t) => f -> walk.findAllIn(t).size }
      .filter(_._2 > 0).toMap
    assert(walks == Map("scala/graft/functions/VectorOps.scala" -> 1))
  }

  /** Generated code only: no whole-stage fallback and no interpreted
    * projections.
    */
  private lazy val codegenOnly: SparkSession = {
    val s = codegenSession()
    s.conf.set("spark.sql.codegen.fallback", "false")
    s.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    s
  }

  private def generated(df: DataFrame): Array[org.apache.spark.sql.Row] = {
    assert(df.queryExecution.executedPlan.exists(_.isInstanceOf[WholeStageCodegenExec]))
    df.collect()
  }

  private def png(rgb: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(2, 2, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 2; x <- 0 until 2) img.setRGB(x, y, rgb)
    val out = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "png", out))
    out.toByteArray
  }

  private def wav(samples: Array[Short]): Array[Byte] = {
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
    val bytes = samples.flatMap(v => Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte))
    val out = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(bytes), fmt, samples.length.toLong),
      javax.sound.sampled.AudioFileFormat.Type.WAVE, out)
    out.toByteArray
  }

  test("all six native functions run in generated code with the fallback off") {
    val s = codegenOnly
    import s.implicits._

    // DotProduct, dense kernel (non-null elements) and null-element kernel.
    val vecs = Seq((Array(1.0, 2.0, 3.0), Array(4.0, 5.0, 6.0, 7.0)),
      (Array(0.5, -0.25), Array(2.0, 4.0)))
    val dense = vecs.toDF("a", "b")
    assert(dense.schema("a").dataType == org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.DoubleType, containsNull = false))
    assert(generated(dense.select(VectorOps.dot(col("a"), col("b")))).map(_.getDouble(0)).toSeq ==
      vecs.map { case (a, b) => VectorOps.denseDot(ArrayData.toArrayData(a), ArrayData.toArrayData(b)) })
    // A null past the shorter length does not null the dot.
    val withNulls = Seq((Seq(Some(1.0), Some(2.0)), Seq(Some(3.0), Some(4.0), None)),
      (Seq(Some(3.0), None), Seq(Some(1.0), Some(1.0)))).toDF("v", "w")
    assert(generated(withNulls.select(VectorOps.dot(col("v"), col("w")), VectorOps.dot(col("v"), col("v"))))
      .map(r => (Option(r.get(0)), Option(r.get(1)))).toSeq ==
      Seq((Some(11.0), Some(5.0)), (None, None)))

    // SortedLongIntersectCount, exact (tau = 0) and bounded; jac 2/5 == 0.4.
    val sets = Seq((Array(1L, 3L, 5L, 7L), Array(3L, 4L, 5L)), (Array(1L, 2L), Array(9L)))
      .toDF("x", "y")
    assert(generated(sets.select(VectorOps.sortedIntersectCount(col("x"), col("y")),
      VectorOps.sortedIntersectCountBounded(col("x"), col("y"), 0.4)))
      .map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((2L, 2L), (0L, 0L)))

    // ImageFeaturesExpr and AudioFeaturesExpr: real decodes and NULL for junk.
    val junk = "not media".getBytes(UTF_8)
    val media = Seq((png(0xff0000), wav(Array[Short](8192, -8192))), (junk, junk))
      .toDF("img", "snd")
    val feats = generated(media.select(Multimodal.imageFeatures(col("img")),
      Multimodal.audioFeatures(col("snd"))))
    assert(feats(0).getSeq[Double](0) ==
      ImageFeaturesExpr.compute(png(0xff0000)).toDoubleArray().toSeq)
    assert(feats(0).getSeq[Double](1) ==
      AudioFeaturesExpr.compute(wav(Array[Short](8192, -8192))).toDoubleArray().toSeq)
    assert(feats(1).isNullAt(0) && feats(1).isNullAt(1))

    // KplDeaggregate through Payload.deaggregate.
    val blob = Kpl.aggregate(Seq(("k1", "a".getBytes(UTF_8)), ("k2", "b".getBytes(UTF_8))))
    val rows = Seq(blob, "plain".getBytes(UTF_8)).zipWithIndex.map { case (d, i) =>
      org.apache.spark.sql.Row(d, "s", s"pk$i", f"$i%020d", "shardId-000000000000",
        new java.sql.Timestamp(0L))
    }
    val records = s.createDataFrame(rows.asJava, KinesisTableProvider.RecordSchema)
    assert(generated(Payload.deaggregate(records)
      .select(col("partitionKey"), col("data").cast("string")))
      .map(r => (r.getString(0), r.getString(1))).toSeq ==
      Seq(("k1", "a"), ("k2", "b"), ("pk1", "plain")))
  }
}
