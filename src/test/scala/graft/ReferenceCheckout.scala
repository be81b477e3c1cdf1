package graft

/** The MEDS-transforms reference checkout that the value goldens read their
  * inputs and expectations from: GoldenScenarioSpec's 16 stage scenarios,
  * YamlConfigSpec's run of the reference's example_pipeline.yaml, and the
  * four GoldenSpec tests that pin the example/data values. It is not part of
  * this repository, so a spec that needs it fails with a message naming it,
  * before any read. Specs that need only a valid MEDS root read the in-repo
  * MedsFixture instead.
  */
object ReferenceCheckout {
  val Root = "/root/reference"

  /** `Root/<rel>`; fails the calling test when the checkout is missing. */
  def path(rel: String): String = {
    if (!new java.io.File(Root).isDirectory)
      throw new java.io.FileNotFoundException(
        s"reference checkout missing at $Root (needed for $rel)")
    s"$Root/$rel"
  }

  /** The 62-row `simple_static_MEDS` example dataset root. */
  def exampleData: String = path("example/data")
}
