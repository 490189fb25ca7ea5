package graft

import java.nio.file.{Files, Path}

import graft.tools.PlanFingerprint

/** Whole-registry plan-shape drift gate: every registered query's
  * physical-operator multiset must match the checked-in goldens, one per
  * [[PlanFingerprint.Mode]]. PlanSpec pins 16 shapes in detail
  * (pushdown strings, join sides); this catches the OTHER ~200 against
  * silent broadcast→SMJ flips, codegen-span loss, or extra exchanges.
  * Regenerate after an INTENTIONAL plan change with
  * `sbt "runMain graft.tools.PlanFingerprint"` (static) or
  * `sbt "runMain graft.tools.PlanFingerprint sf01"` (AQE-final) and
  * review the diff like code. */
class PlanFingerprintSpec extends GraftSparkSpec {

  private def golden(mode: PlanFingerprint.Mode): Map[String, String] = {
    val goldenFile = new java.io.File(mode.golden)
    assert(goldenFile.isFile, s"${mode.golden} missing — run graft.tools.PlanFingerprint")
    PlanFingerprint.parse(Files.readString(goldenFile.toPath))
  }

  private def drift(golden: Map[String, String], got: Seq[(String, String)]): Seq[String] =
    got.filter { case (n, f) => golden.get(n).exists(_ != f) }
      .map { case (n, f) => s"$n\n  golden: ${golden(n)}\n  actual: $f" }

  test("all registered queries match their golden plan fingerprints") {
    val mode = PlanFingerprint.static
    val expected = golden(mode)
    val got = PlanFingerprint.fingerprintAll(spark, mode, mode.sfDir)

    val missing = expected.keySet -- got.map(_._1).toSet
    val unpinned = got.map(_._1).toSet -- expected.keySet
    val drifted = drift(expected, got)
    val report = Seq(
      if (missing.nonEmpty)
        Some(s"golden queries no longer registered: ${missing.toSeq.sorted.mkString(", ")}")
      else None,
      if (unpinned.nonEmpty)
        Some(s"registered queries missing from golden (regenerate): ${unpinned.toSeq.sorted.mkString(", ")}")
      else None,
      if (drifted.nonEmpty)
        Some(s"plan drift:\n${drifted.mkString("\n")}")
      else None).flatten
    assert(report.isEmpty, "\n" + report.mkString("\n"))
  }

  /** The SCALE-REALISTIC golden ([[PlanFingerprint.aqeFinal]]: sf0.1,
    * AQE final plans, production 10 MB broadcast threshold — the config
    * under which fact-sized join sides genuinely flip to sort-merge). A
    * full live re-fingerprint executes every query's non-result stages
    * at sf0.1 (~7 min at local[32], several× that on the suite's
    * local[4]) — too heavy for every `sbt test` — so the gate splits:
    *   (a) registry consistency of the committed golden — every
    *       registered query pinned, no stale entries — which forces the
    *       regen whenever the registry changes;
    *   (b) a LIVE drift check of the scale-critical subset: every query
    *       whose golden shape contains a shuffle-side join
    *       (SortMergeJoin / ShuffledHashJoin / CartesianProduct) — the
    *       shapes that exist only at scale and that the sf0.001 golden
    *       (where every join broadcasts) cannot see;
    *   (c) plus one 1-in-8 slice of the whole registry,
    *       [[PlanFingerprint.liveSlice]], keyed on the `src/main` tree.
    *       Every run on one tree (this suite, Verify's sf0.1 spot check)
    *       checks the same slice, and each source change moves the check
    *       to the slice its key picks.
    */
  test("sf0.1 AQE-final golden: registry-consistent, scale-critical shapes match live") {
    val mode = PlanFingerprint.aqeFinal
    val expected = golden(mode)
    val registry = SparkEntry.queries.keySet
    val missing = expected.keySet -- registry
    val unpinned = registry -- expected.keySet
    assert(missing.isEmpty && unpinned.isEmpty,
      s"\nsf0.1 golden stale entries: ${missing.toSeq.sorted.mkString(", ")}" +
        s"\nsf0.1 golden missing (regenerate): ${unpinned.toSeq.sorted.mkString(", ")}")

    val scaleCritical = expected.filter { case (_, fp) =>
      fp.contains("SortMergeJoinExec") || fp.contains("ShuffledHashJoinExec") ||
        fp.contains("CartesianProductExec")
    }.keySet
    assert(scaleCritical.nonEmpty, "no shuffle-join shapes in the sf0.1 golden?")
    assert(new java.io.File("src/main").isDirectory, "run from the repository root")
    val slice = PlanFingerprint.liveSlice(registry)
    info(s"live slice (${slice.size}): ${slice.toSeq.sorted.mkString(", ")}")
    val got = PlanFingerprint.fingerprintAll(spark, mode, mode.sfDir,
      names = scaleCritical ++ slice)
    val drifted = drift(expected, got)
    assert(drifted.isEmpty,
      s"\nscale-critical/live-slice plan drift:\n" + drifted.mkString("\n"))
  }

  test("liveSlice is keyed on the source tree and the 8 slices partition the registry") {
    def tree(files: (String, String)*): java.io.File = {
      val root = Files.createTempDirectory("graft-srckey-")
      files.foreach { case (rel, text) =>
        val p: Path = root.resolve(rel)
        Files.createDirectories(p.getParent)
        Files.writeString(p, text)
      }
      root.toFile
    }
    val a = tree("graft/A.scala" -> "object A { val x = 1 }",
      "graft/b/B.scala" -> "object B", "notes.txt" -> "not source")
    val b = tree("graft/A.scala" -> "object A { val x = 2 }",
      "graft/b/B.scala" -> "object B", "notes.txt" -> "not source")
    val k = PlanFingerprint.sourceKey(a)
    assert(PlanFingerprint.sourceKey(a) === k, "same tree, different key")
    assert(PlanFingerprint.sourceKey(b) !== k, "a one-byte source change kept the key")

    val registry = SparkEntry.queries.keySet
    assert(PlanFingerprint.liveSlice(registry, a) ===
      PlanFingerprint.rotationSlice(registry, k))
    val slices = (0 until 8).map(PlanFingerprint.rotationSlice(registry, _))
    assert(slices.flatten.toSet === registry, "the slices do not cover the registry")
    assert(slices.map(_.size).sum === registry.size, "the slices overlap")
  }
}
