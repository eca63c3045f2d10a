package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Operator modules and specs are named after what they hold, never after
  * the round or batch that added them. */
class LayoutSpec extends AnyFunSuite {

  private val roundNamed = """Extended\d*\.scala|Round\d+\w*Spec\.scala""".r

  /** Specs still named by round. A spec's name is part of every test id
    * under it, so these move one suite at a time; the set only shrinks. */
  private val pendingRename = Set("Round7OpsSpec.scala",
    "Round7dOpsSpec.scala", "Round7eOpsSpec.scala", "Round7fPropertySpec.scala",
    "Round7gOpsSpec.scala", "Round7hEdgeSpec.scala", "Round7iOpsSpec.scala",
    "Round7jOpsSpec.scala", "Round8OpsSpec.scala", "Round9OpsSpec.scala",
    "Round10OpsSpec.scala", "Round12TransportSpec.scala")

  private def files(root: String): Seq[Path] = {
    val dir = Paths.get(root)
    assert(Files.isDirectory(dir), s"$root not found from ${Paths.get("").toAbsolutePath}")
    val walk = Files.walk(dir)
    try walk.iterator().asScala.filter(Files.isRegularFile(_)).toList
    finally walk.close()
  }

  private lazy val names = Seq("src/main/scala/graft/operators",
    "src/test/scala").flatMap(files).map(_.getFileName.toString)

  test("no operator module or spec file is named by round") {
    val bad = names.filter(n => roundNamed.pattern.matcher(n).matches)
      .filterNot(pendingRename)
    assert(bad.isEmpty, s"round-named files: ${bad.mkString(", ")}")
  }

  test("every spec awaiting its rename still exists under its old name") {
    val gone = pendingRename -- names
    assert(gone.isEmpty, s"renamed; drop from pendingRename: $gone")
  }

  /** The driver-contract mains, the per-query tools and the KCL
    * checkpoint import; anything else runnable is a dev main, and those
    * live outside `src/main`. */
  private val mains = Set("Bench.scala", "Verify.scala", "Explain.scala",
    "RunQuery.scala", "ImportKclCheckpoints.scala")

  test("src/main defines no main beyond the driver and operator mains") {
    val defMain = """\bdef\s+main\s*\(""".r
    val bad = files("src/main").filter { f =>
      f.toString.endsWith(".scala") && !mains(f.getFileName.toString) &&
        defMain.findFirstIn(new String(Files.readAllBytes(f), "UTF-8")).isDefined
    }
    assert(bad.isEmpty, s"dev mains in src/main: ${bad.mkString(", ")}")
  }
}
