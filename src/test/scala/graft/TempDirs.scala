package graft

import org.scalatest.{Args, Status, Suite, SuiteMixin}
import java.nio.file.{Files, Path}
import scala.collection.mutable.ArrayBuffer

/** Temp dirs that a suite makes with [[tempDir]] are deleted, with
  * everything inside them, once the suite has run (after its `afterAll`
  * when this trait is mixed in after `BeforeAndAfterAll`, so a Spark
  * session or streaming query is stopped before its dirs go).
  */
trait TempDirs extends SuiteMixin { this: Suite =>

  private val made = ArrayBuffer.empty[Path]

  def tempDir(prefix: String): Path = made.synchronized {
    val p = Files.createTempDirectory(prefix)
    made += p
    p
  }

  abstract override def run(testName: Option[String], args: Args): Status =
    try super.run(testName, args)
    finally made.synchronized { made.foreach(deleteRec); made.clear() }

  private def deleteRec(p: Path): Unit = {
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory && !Files.isSymbolicLink(f.toPath))
        Option(f.listFiles).foreach(_.foreach(rm))
      f.delete(): Unit
    }
    rm(p.toFile)
  }
}
