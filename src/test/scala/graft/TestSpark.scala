package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (sbt forks one test JVM). */
object TestSpark {
  lazy val spark: SparkSession =
    GraftSession.builder(master = "local[4]", shufflePartitions = 4).getOrCreate()
  val sf: String = "/root/testdata/sf0.001"

  /** Every .scala file under src/main/scala as (path relative to it,
    * text), for the source-guard specs; they run from the repository root. */
  lazy val mainSources: Seq[(String, String)] = {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    require(java.nio.file.Files.isDirectory(root), "run from the repository root")
    java.nio.file.Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => root.relativize(p).toString -> java.nio.file.Files.readString(p))
      .toSeq.sortBy(_._1)
  }
}
