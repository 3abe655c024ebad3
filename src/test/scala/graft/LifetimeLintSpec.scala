package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The library's lifetime rule (GraftDedup's scaladoc), checked on the
  * sources: an operator that reuses an intermediate makes it a lazy
  * `localCheckpoint(eager = false)` leaf, so no CacheManager entry
  * outlives the operator. Scans the library packages for the
  * mechanisms that rule replaced.
  */
class LifetimeLintSpec extends AnyFunSuite {

  private val packages = Seq("operators", "queries", "streaming", "functions",
                             "plans", "sources", "connect")

  /** (file name, enclosing def) → how many `.persist(` calls it may hold:
    * the user-scoped `IvfIndex.persist` and `KeepSetStore.increment`'s
    * staging pair, released in its `finally`. */
  private val allowedPersists = Map(
    ("GraftSimilarity.scala", "persist") -> 2,
    ("KeepSetStore.scala", "increment") -> 2)

  private val defLine = """^\s*(?:[a-z]+\s+)*def\s+(\w+)""".r.unanchored

  private def sources: Seq[Path] = packages.flatMap { p =>
    val root = Paths.get("src/main/scala/graft", p)
    if (!Files.isDirectory(root)) Nil
    else Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
  }

  test("library packages are present where the lint looks") {
    assert(sources.size > 20, s"found only ${sources.size} sources")
  }

  test("no .cache(), no pin registry, no release-all hooks") {
    val banned = Seq("""\.cache\(\)""".r, """\bpin\(""".r,
                     "unpersistAll".r, "unpersistCache".r)
    val hits = for {
      f <- sources
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if banned.exists(_.findFirstIn(line).isDefined)
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(hits.isEmpty, hits.mkString("\n", "\n", ""))
  }

  test(".persist( only in IvfIndex.persist and KeepSetStore.increment") {
    val found = for {
      f <- sources
      lines = Files.readAllLines(f).asScala.toIndexedSeq
      (line, i) <- lines.zipWithIndex
      n = """\.persist\(""".r.findAllIn(line).size
      if n > 0
      enclosing = (i to 0 by -1).iterator.map(lines(_)).collectFirst {
        case defLine(name) => name
      }.getOrElse("<none>")
      _ <- 1 to n
    } yield (f.getFileName.toString, enclosing, s"$f:${i + 1}: ${line.trim}")
    val over = found.groupBy(h => (h._1, h._2)).collect {
      case (site, hs) if hs.size > allowedPersists.getOrElse(site, 0) =>
        hs.map(_._3).distinct.mkString("\n")
    }
    assert(over.isEmpty, over.mkString("\n", "\n", ""))
  }
}
