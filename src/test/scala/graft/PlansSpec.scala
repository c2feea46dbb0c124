package graft

import org.scalatest.funsuite.AnyFunSuite

/** `graft.Plans` regenerates only the plan head of PLANS.md and keeps the
  * measured history from the first "## Scaling slope" heading on.
  */
class PlansSpec extends AnyFunSuite {
  private val history =
    "## Scaling slope: x10\n\n| q | sec |\n\n## Round 17\nmeasured ✓\n"

  test("the old head is replaced and the history kept byte for byte") {
    val existing = "# PLANS\n\n## q1 — old plan\n```\nold\n```\n\n" + history
    val head = "# PLANS\n\n## q1 — new plan\n```\nnew\n```\n"
    assert(Plans.withHistory(head, existing) == head + "\n" + history)
  }

  test("a regeneration of a regenerated file changes nothing") {
    val head = "# PLANS\n```\nplan\n```\n"
    val once = Plans.withHistory(head, "# old\n\n" + history)
    assert(Plans.withHistory(head, once) == once)
  }

  test("only the first history heading splits the file") {
    val existing = "# old\n\n" + history + "\n## Scaling slope again\n"
    assert(Plans.withHistory("H\n", existing) ==
      "H\n\n" + history + "\n## Scaling slope again\n")
  }

  test("a file that starts with the history keeps all of it") {
    assert(Plans.withHistory("H\n", history) == "H\n\n" + history)
  }

  test("no existing file or no history heading: just the head") {
    assert(Plans.withHistory("H\n", "") == "H\n")
    assert(Plans.withHistory("H\n", "# PLANS\nno history\n") == "H\n")
    assert(Plans.withHistory("H\n", "text ## Scaling slope inline\n") == "H\n")
  }
}
