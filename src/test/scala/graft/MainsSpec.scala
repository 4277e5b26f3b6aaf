package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every main is one a reader can run: an object under src/main/scala
  * that declares `def main(` must be named, as `runMain graft.<Name>`,
  * in README's Verification section. A probe main that nothing runs
  * then cannot come back unnoticed. */
class MainsSpec extends AnyFunSuite {

  test("every main under src/main/scala is named in README's Verification section") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), "run from the repository root")
    val objectDecl = """(?m)^object\s+(\w+)""".r
    val mains = java.nio.file.Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap { p =>
        val src = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
        val decls = objectDecl.findAllMatchIn(src).toSeq
        // an object's body runs to the next top-level object
        decls.zip(decls.drop(1).map(_.start) :+ src.length).collect {
          case (m, end) if src.substring(m.start, end).contains("def main(") =>
            m.group(1)
        }
      }.toSeq.sorted
    assert(mains.contains("Bench") && mains.contains("Verify"), mains)

    val readme = java.nio.file.Files.readString(java.nio.file.Paths.get("README.md"))
    val from = readme.indexOf("## Verification")
    assert(from >= 0, "README has no Verification section")
    val next = readme.indexOf("\n## ", from + 1)
    val section = readme.substring(from, if (next < 0) readme.length else next)
    val unnamed = mains.filterNot(n => s"runMain graft\\.$n\\b".r.findFirstIn(section).isDefined)
    assert(unnamed.isEmpty,
      s"mains not named in README's Verification section (run them there or delete them): $unnamed")
  }
}
