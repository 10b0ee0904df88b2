package graft

import java.io.{File, FileNotFoundException}

/** Input recordings of the reference renkodf project's examples (EURGBP,
  * US30 and BNBUSDT ticks). The golden outputs under
  * `src/test/resources/golden` were generated from them, but the inputs
  * themselves are not part of this repository: the suites read them from a
  * checkout of the reference project at `~/reference`.
  */
object ReferenceData {
  val Dir: String = s"${sys.props("user.home")}/reference/examples/data"

  /** Path of one reference input; a missing file fails the calling test
    * with a message naming it (ROADMAP.md, open item 0).
    */
  def path(file: String): String = {
    val p = s"$Dir/$file"
    if (!new File(p).isFile)
      throw new FileNotFoundException(
        s"reference input $p is missing: this test needs the reference project's " +
          "example data (see ROADMAP.md, open item 0)")
    p
  }
}
