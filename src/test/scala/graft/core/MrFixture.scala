package graft.core

import java.nio.file.Paths

/** The in-repo stand-in for the reference demo's `test/` directory
  * (`src/test/resources/mr/`, written by `scripts/gen_mr_fixture.py`): the
  * demo's `config.ini` and two seeded text files to count words in.
  */
object MrFixture {
  private val dir = Paths.get(getClass.getResource("/mr").toURI)

  val config: String = dir.resolve("config.ini").toString
  val inputs: Seq[String] = Seq("input1.txt", "input2.txt").map(dir.resolve(_).toString)
}
