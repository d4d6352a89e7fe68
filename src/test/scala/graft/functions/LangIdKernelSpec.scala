package graft.functions

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** The one-pass marker kernels behind [[TextFunctions.markerScore]] and
  * [[TextFunctions.langId]] give what the higher-order-function
  * formulations they replaced gave, on seeded-random token arrays with
  * NULL arrays, NULL tokens and empty arrays, for marker sets with
  * duplicates inside a language, a word under two languages and an empty
  * list — in generated code and interpreted.
  */
class LangIdKernelSpec extends AnyFunSuite with SharedSpark {

  /** `size(filter(toks, t => t === m1 || …))`, the former markerScore. */
  private def hofMarkerScore(toks: Column, markers: Seq[String]): Column =
    size(filter(toks, t => markers.map(m => t === m).foldLeft(lit(false))(_ || _)))

  /** The former langId: an argmax fold over every language's
    * [[hofMarkerScore]], the first-listed language winning ties.
    */
  private def hofLangId(toks: Column, markers: Seq[(String, Seq[String])]): Column = {
    val scored = markers.map { case (lang, ms) => (lang, hofMarkerScore(toks, ms)) }
    scored.tail.foldLeft((scored.head._2, lit(scored.head._1))) {
      case ((bestScore, bestLang), (lang, score)) =>
        (when(score > bestScore, score).otherwise(bestScore),
          when(score > bestScore, lit(lang)).otherwise(bestLang))
    }._2
  }

  private val markerSets: Seq[Seq[(String, Seq[String])]] = Seq(
    TextFunctions.defaultMarkers,
    Seq(
      "en" -> Seq("the", "the", "a"),   // a duplicate marker counts once
      "fr" -> Seq("a", "row"),          // "a" also votes for fr
      "xx" -> Seq.empty,                // scores 0
      "es" -> Seq("row", "value", "value")),
    Seq("only" -> Seq("spark")),
    Seq("none" -> Seq.empty, "en" -> Seq("the")))

  private val vocab = (markerSets.flatMap(_.flatMap(_._2)) ++
    Seq("zebra", "thee", "", "The", "rowing")).distinct

  private val schema = StructType(Seq(StructField("toks", ArrayType(StringType))))

  private def rows(seed: Long, n: Int): Seq[Row] = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map { _ =>
      rnd.nextInt(12) match {
        case 0 => Row(null)
        case 1 => Row(Seq.empty[String])
        case _ => Row(Seq.fill(rnd.nextInt(10))(
          if (rnd.nextInt(15) == 0) null else vocab(rnd.nextInt(vocab.size))))
      }
    }
  }

  /** Per marker set: every language's score and the language, each as
    * (kernel, reference) column pairs.
    */
  private val pairs: Seq[(String, Column, Column)] = {
    val toks = col("toks")
    markerSets.zipWithIndex.flatMap { case (ms, i) =>
      ms.map { case (lang, words) =>
        (s"set $i markerScore $lang",
          TextFunctions.markerScore(toks, words), hofMarkerScore(toks, words))
      } :+ ((s"set $i langId", TextFunctions.langId(toks, ms), hofLangId(toks, ms)))
    }
  }

  private def run(seed: Long, generated: Boolean): (Seq[Row], String) =
    withConf(
        "spark.sql.codegen.factoryMode" ->
          (if (generated) "CODEGEN_ONLY" else "NO_CODEGEN"),
        "spark.sql.codegen.wholeStage" -> generated.toString) {
      // an RDD source, so the optimizer cannot fold the projection
      val df = spark.createDataFrame(
          spark.sparkContext.parallelize(rows(seed, 400), 2), schema)
        .select(col("toks") +: pairs.flatMap(p => Seq(p._2, p._3)): _*)
      (df.collect().toSeq, df.queryExecution.executedPlan.toString)
    }

  test("marker kernels equal the higher-order-function formulations, generated and interpreted") {
    Seq(20261020L, 5L, 313L).foreach { seed =>
      val (gen, genPlan) = run(seed, generated = true)
      val (interp, interpPlan) = run(seed, generated = false)
      assert(genPlan.contains("*("), s"no codegen stage:\n$genPlan")
      assert(!interpPlan.contains("*("), s"codegen stage in the interpreted run:\n$interpPlan")
      Seq(gen, interp).foreach { out =>
        out.foreach { r =>
          pairs.zipWithIndex.foreach { case ((name, _, _), k) =>
            val (kernel, ref) = (r.get(1 + 2 * k), r.get(2 + 2 * k))
            assert(kernel == ref, s"seed $seed $name on ${r.get(0)}: $kernel != $ref")
          }
        }
      }
      assert(gen == interp)
      // every case reaches the kernels
      val toks = gen.map(r => Option(r.getSeq[String](0)))
      assert(toks.contains(None) && toks.contains(Some(Seq.empty)))
      assert(toks.flatten.exists(_.contains(null)))
      assert(toks.flatten.exists(t => t.contains("a") && t.contains("row")))
    }
  }

  test("a NULL token array gets the first-listed language and a NULL score") {
    val df = spark.createDataFrame(
        spark.sparkContext.parallelize(Seq(Row(null), Row(Seq("row", "the"))), 1), schema)
      .select(TextFunctions.langId(col("toks")),
        TextFunctions.langId(col("toks"), Seq("fr" -> Seq("row"), "en" -> Seq("the"))),
        TextFunctions.markerScore(col("toks"), Seq("the")))
    assert(df.collect().map(_.toSeq).toSeq ==
      Seq(Seq("en", "fr", null), Seq("en", "fr", 1)))
  }

  test("langId needs a language") {
    intercept[IllegalArgumentException](TextFunctions.langId(col("toks"), Seq.empty))
  }
}
