package graft

import org.scalatest.funsuite.AnyFunSuite

/** A kernel that is one static call is declared through
  * `graft.functions.KernelCall.bind`, not as a hand-written Catalyst
  * expression. Only the expressions listed here write their own
  * `doGenCode`: the TDE pair (its key is a codegen reference object, so
  * it never prints in a plan string) and the four vector kernels over a
  * fixed `long[][]` codebook or inventory. A new one has to be added to
  * `allowed`, on purpose, or this fails.
  */
class HandWrittenCodegenSpec extends AnyFunSuite {

  private val allowed = Set("TdeDecrypt", "TdeEncrypt",
    "PqProbeExpr", "MaxCosExpr", "PqEncodeExpr", "PqLutExpr")

  private val classDecl = """\bclass\s+(\w+)""".r
  private val genCode = """def\s+doGenCode\b""".r

  test("src/main overrides doGenCode only in the hand-written allow-list") {
    val owners = for {
      f <- MainSources.files
      src = MainSources.text(f)
      m <- genCode.findAllMatchIn(src)
    } yield {
      // the class declared nearest above the override owns it
      val owner = classDecl.findAllMatchIn(src.substring(0, m.start))
        .map(_.group(1)).toSeq.lastOption.getOrElse("<none>")
      (s"${f.getName}:$owner", owner)
    }
    val outside = owners.filterNot { case (_, o) => allowed.contains(o) }
    assert(outside.isEmpty,
      s"hand-written doGenCode outside the allow-list (bind the kernel instead): $outside")
    assert(owners.map(_._2).toSet === allowed)
  }
}
