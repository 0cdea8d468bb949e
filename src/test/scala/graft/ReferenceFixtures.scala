package graft

/** The one resolver for test fixtures read from the Druid source checkout
  * (see FIXTURES.md for the files and the suites that read them). Those
  * files are test data read in place, never copied into the repo. A missing
  * file fails the calling test with a message naming it; call this inside a
  * test (a lazy val or def), never while a suite is constructed, so each
  * dependent test reports the missing file itself. */
object ReferenceFixtures {
  private val Root = "/root/reference"

  /** The absolute path of `rel` in the checkout; throws if the file is absent. */
  def path(rel: String): String = {
    val p = s"$Root/$rel"
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(p)))
      throw new java.io.FileNotFoundException(
        s"missing reference fixture $p: the Druid source checkout is not present (see FIXTURES.md)")
    p
  }
}
