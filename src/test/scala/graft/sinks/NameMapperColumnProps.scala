package graft.sinks

import org.apache.spark.sql.functions.col
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Property tie between the K5 Column mirrors (`tableFromTopicCol`,
  * `tableFromSchemaNameCol`) and their driver-side Scala functions: the
  * generated corpus runs through BOTH in one Spark job, so a builtin
  * semantic mismatch (ltrim charset, substring_index edge, startsWith on
  * a short string) fails here before it can skew the k5 gate.
  */
class NameMapperColumnProps extends AnyFunSuite with SharedSpark {

  private val nameChar: Gen[Char] = Gen.frequency(
    8 -> Gen.alphaNumChar,
    3 -> Gen.oneOf('_', '.', '-'),
    1 -> Gen.oneOf('€', 'ü', '#', ' '))
  private val name: Gen[String] =
    Gen.chooseNum(0, 24).flatMap(n => Gen.listOfN(n, nameChar).map(_.mkString))

  private def sample[A](g: Gen[A], n: Int): Seq[A] =
    LazyList.iterate(Seed(42L))(_.next).take(n * 4)
      .flatMap(s => g.apply(Gen.Parameters.default, s)).take(n)

  test("tableFromTopicCol matches tableFromTopic on a generated corpus") {
    import spark.implicits._
    val prefixes = Seq("", "oracdc", "a", "_", "SCOTT_T", "..")
    // force the interesting regions: exact-prefix topics, prefix+junk,
    // and fully random strings
    val topics = sample(name, 400) ++
      prefixes ++ prefixes.map(_ + "_x.y") ++ prefixes.map(_ + "___..T")
    for (p <- prefixes) {
      val expected = topics.map(t => t -> NameMappers.tableFromTopic(t, p))
      val got = topics.toDF("topic")
        .select(col("topic"),
          NameMappers.tableFromTopicCol(col("topic"), p).as("mapped"))
        .as[(String, String)].collect().toMap
      expected.foreach { case (t, e) =>
        assert(got(t) === e, s"prefix=$p topic=$t")
      }
    }
  }

  test("tableFromSchemaNameCol matches tableFromSchemaName on a generated corpus") {
    import spark.implicits._
    val names = sample(name, 400).filter(_.nonEmpty) ++
      Seq("a", "a.b", "a.b.c", ".x", "x.", "solutions.a2.SCOTT.DEPT", "...")
    val expected = names.map(n => n -> NameMappers.tableFromSchemaName(n))
    val got = names.toDF("n")
      .select(col("n"), NameMappers.tableFromSchemaNameCol(col("n")).as("m"))
      .as[(String, String)].collect().toMap
    expected.foreach { case (n, e) => assert(got(n) === e, s"name=$n") }
  }
}
