package graft

import org.scalatest.funsuite.AnyFunSuite

class BenchDocSpec extends AnyFunSuite {

  test("a section is replaced in place, kept once and appended when missing; other sections stay byte for byte") {
    val intro = "# BENCH\n\nintro line\n\n"
    val other = "## Other (kept)\n\n| a | b |\n|---|---|\n\n### sub\ntext  \n\n"
    val tail = "## Tail\nlast line\n"
    val doc = intro + "## Scaling run (old)\nold numbers\n\n### old sub\n\n" + other +
      "## Scaling run (stray)\nstray\n\n" + tail
    assert(BenchDoc.withSection(doc, "## Scaling run", "## Scaling run (new)\nnew numbers\n") ==
      intro + "## Scaling run (new)\nnew numbers\n\n" + other + tail)
    assert(BenchDoc.withSection(intro + tail, "## E2e", "\n## E2e\nrow\n") == intro + tail + "\n## E2e\nrow\n")
    assert(BenchDoc.withSection("", "## E2e", "## E2e\nrow") == "## E2e\nrow\n")
  }
}
