package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** `graft.util.VersionedDir` is the one owner of the snapshot commit
  * protocol: no other source file may spell its tokens, so a hand-rolled
  * copy of the `v=N` layout, its claims or its markers cannot return
  * unnoticed. */
class VersionedDirSpec extends AnyFunSuite {

  test("no source file but VersionedDir spells the snapshot commit protocol") {
    val tokens = Seq("startsWith(\"v=\")", "_commits", "_COMMITTED", "_compact_",
      "__dv_", "_commit_ts")
    val owner = Paths.get("src/main/scala/graft/util/VersionedDir.scala")
    val walk = Files.walk(Paths.get("src/main"))
    val sources: Seq[Path] =
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    val offenders = for {
      f <- sources if f != owner
      text = new String(Files.readAllBytes(f), "UTF-8")
      t <- tokens if text.contains(t)
    } yield s"$f: $t"
    assert(sources.size > 100, s"run from the repository root: ${sources.size} sources")
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
