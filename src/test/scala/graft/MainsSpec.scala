package graft

import org.scalatest.funsuite.AnyFunSuite

/** Guards on what src/main/scala declares. Every main is one a reader can
  * run: an object declaring `def main(` is named, as `runMain graft.<Name>`,
  * in README's Verification section. No hand-written SparkListener: job
  * progress and counts are read from Spark's own status store. */
class MainsSpec extends AnyFunSuite {

  test("every main under src/main/scala is named in README's Verification section") {
    val objectDecl = """(?m)^object\s+(\w+)""".r
    val mains = TestSpark.mainSources.flatMap { case (_, src) =>
      val decls = objectDecl.findAllMatchIn(src).toSeq
      // an object's body runs to the next top-level object
      decls.zip(decls.drop(1).map(_.start) :+ src.length).collect {
        case (m, end) if src.substring(m.start, end).contains("def main(") =>
          m.group(1)
      }
    }.sorted
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

  test("no SparkListener subclass or addSparkListener call in src/main/scala") {
    val listener =
      """addSparkListener|\b(?:extends|with|new)\s+(?:[\w.]*\.)?SparkListener(?:Interface)?\b""".r
    val offenders = TestSpark.mainSources.collect {
      case (path, src) if listener.findFirstIn(src).isDefined => path
    }
    assert(offenders.isEmpty,
      s"read sc.statusTracker instead of keeping a SparkListener in: $offenders")
  }
}
