package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** ScaleProbe keeps only the modes a shipped constant depends on, and
  * SCALING.md quotes no probe command that no longer exists. No Spark
  * session: both checks read the mode table and the markdown.
  */
class ScaleProbeSpec extends AnyFunSuite {

  private val removed =
    "reproduce with `git show cb25825:src/main/scala/graft/ScaleProbe.scala`"

  test("ScaleProbe's modes are exactly the ones a constant cites") {
    assert(ScaleProbe.probes.keySet == Set("ann", "cadence", "graph",
      "graphstar", "levels", "pq", "streamread"))
  }

  test("every ScaleProbe command in SCALING.md runs, or its section " +
      "points at the commit that held the probe") {
    // `graft.ScaleProbe MODE N...` (may wrap a line) or ScaleProbe `MODE` mode
    val command =
      """`(?:graft\.)?ScaleProbe\s+([^`]*)`|ScaleProbe\s+`([a-z]+)`\s+mode""".r
    val sections = Files.readString(Paths.get("SCALING.md"))
      .split("\n(?=## )").toSeq
    val quoted = for {
      section <- sections
      m <- command.findAllMatchIn(section)
    } yield (Option(m.group(1)).getOrElse(m.group(2)).split("\\s+").head,
      section)
    val stale = quoted.collect {
      case (word, section) if word.toLongOption.isEmpty &&
          !ScaleProbe.probes.contains(word) && !section.contains(removed) =>
        s"$word in ${section.linesIterator.next()}"
    }
    assert(quoted.map(_._1).toSet.size > ScaleProbe.probes.size)
    assert(stale.isEmpty)
  }
}
