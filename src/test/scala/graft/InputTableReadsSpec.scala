package graft

import java.io.File
import scala.io.Source
import scala.util.Using
import org.scalatest.funsuite.AnyFunSuite

/** Input tables are read through `graft.sources.Tables.read`: a direct
  * schema-less `read.parquet` infers the schema with one Spark job per
  * call. The only direct read left in the query files is of a file the
  * query itself has just written. */
class InputTableReadsSpec extends AnyFunSuite {

  private val allowed = Set("""s.read.parquet(written("cells")(1))""")

  test("no Queries*.scala reads an input table with read.parquet") {
    val files = new File("src/main/scala/graft").listFiles()
      .filter(f => f.getName.matches("Queries\\d*\\.scala")).sortBy(_.getName)
    assert(files.length >= 7, "query sources not found")
    val offending = for {
      f <- files.toSeq
      (line, i) <- Using.resource(Source.fromFile(f, "UTF-8"))(_.getLines().toVector).zipWithIndex
      if line.contains(".read.parquet(") && !allowed.exists(line.contains)
    } yield s"${f.getName}:${i + 1}: ${line.trim}"
    assert(offending.isEmpty, offending.mkString("\n"))
  }
}
