package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every parquet read on a query path goes through
  * graft.sources.SchemaCatalog: a raw `spark.read.parquet(` under the
  * query-path packages would skip the catalog's schema replay (and its
  * rewrite-in-place rule). The single allowed exception is
  * `IndexedEmbeddingGate.readShape`'s fallback for the pre-r22 1-row
  * parquet shape DIRECTORY, a legacy layout read once per ingest.
  */
class ParquetReadGuardSpec extends AnyFunSuite {

  private val root = java.nio.file.Paths.get("src/main/scala/graft")
  private val packages = Seq("ext", "streaming", "extract", "operators", "queries")
  private val rawRead = """\.read\s*\.parquet\(""".r
  private val allowed = Set(
    "streaming/IndexedEmbeddingGate.scala" -> "spark.read.parquet(shapePath(storeDir))")

  test("no raw .read.parquet( outside the schema catalog on query paths") {
    import scala.jdk.CollectionConverters._
    val files = packages.flatMap { p =>
      val walk = java.nio.file.Files.walk(root.resolve(p))
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    }
    assert(files.size > 20, s"guard scanned only ${files.size} files")
    val hits = for {
      f <- files
      text = new String(java.nio.file.Files.readAllBytes(f), "UTF-8")
      m <- rawRead.findAllMatchIn(text)
    } yield {
      val rel = root.relativize(f).toString
      val line = text.substring(0, m.start).count(_ == '\n') + 1
      val lineText = text.linesIterator.drop(line - 1).next().trim
      (rel, line, lineText)
    }
    val offenders = hits.filterNot { case (rel, _, lineText) =>
      allowed.exists { case (f, code) => rel == f && lineText.startsWith(code) }
    }
    assert(offenders.isEmpty,
      offenders.map { case (f, l, t) => s"$f:$l: $t" }.mkString("\n"))
    // the named exception still exists — drop it from `allowed` once the
    // legacy shape directory is gone
    assert(hits.exists { case (rel, _, _) => rel == allowed.head._1 })
  }
}
