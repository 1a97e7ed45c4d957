package slbench

import java.io.File
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

import graft.kg.{CorpusGen, ScalarOracle, Triple}

/** The benchmark's own fast tests, at Tiny kg scale and a few hundred
  * documents (`python3 slbench/run.py --selftest`):
  *   - every metric BENCHMARK.json declares is emitted, with a unit, on
  *     both workloads and in both trace modes, and the runs are correct;
  *   - a corrupted output (a dropped triple, a pair below its threshold)
  *     is reported as failed;
  *   - traced and untraced reps give identical fingerprints (a run fails
  *     otherwise, so the trace-mode runs above cover it).
  */
object SelfTest {
  private var failures = 0

  private def check(name: String)(ok: => Boolean): Unit = {
    val passed = scala.util.Try(ok).getOrElse(false)
    if (!passed) failures += 1
    println(s"${if (passed) "PASS" else "FAIL"} $name")
  }

  private def declared(trace: Boolean): Map[String, String] = {
    val spec = new ObjectMapper().readTree(new File("BENCHMARK.json"))
    spec.get(if (trace) "per_layer" else "end_to_end").elements().asScala
      .map(m => m.get("name").asText -> m.get("unit").asText).toMap
  }

  def main(args: Array[String]): Unit = {
    val work = args(args.indexOf("--work") + 1)
    val sizes = Map("kg_build" -> CorpusGen.Tiny.nEntities, "docs_dedup" -> 300)
    for ((w, size) <- sizes; trace <- Seq(false, true)) {
      val r = Main.runOnce(w, seed = 7, seconds = 0, trace, s"$work/$w-$trace", Some(size), minReps = 1)
      val want = declared(trace)
      check(s"$w trace=$trace emits every declared metric") {
        r.values.keySet == want.keySet && want.values.forall(_.nonEmpty)
      }
      check(s"$w trace=$trace passes its checks (traced and untraced fingerprints agree)") {
        r.correct && r.failed == 0 && r.attempted >= 2
      }
      if (!trace) check(s"$w end-to-end metrics are positive") { r.values.values.forall(_ > 0) }
    }

    val scale = KgBuild.scaleFor(7, CorpusGen.Tiny.nEntities, CorpusGen.Tiny.nFiles)
    val want = ScalarOracle.run(scale)._1
    check("the reference triples pass the kg check") { KgBuild.compare(want, want).ok }
    check("a dropped triple fails the kg check") { !KgBuild.compare(want - want.head, want).ok }
    check("an extra triple fails the kg check") {
      !KgBuild.compare(want + Triple("s", "p", "o"), want).ok
    }

    val gen = new DocsGen(7, 300)
    val planted = DocsDedup.Families.map(f => f -> Set.empty[(Long, Long)]).toMap
    val good = DocsDedup.Families.map(f =>
      f -> gen.plantedPairs.filter(p => gen.passes(f, p._1, p._2))).toMap
    val clusters = DocsDedup.components(
      (good("minhash") ++ good("ngram") ++ good("simhash")).distinct).toSeq
    check("verified planted pairs pass the dedup check") {
      DocsDedup.check(gen, planted, good, clusters)._1.ok
    }
    val below = (0L until 300L).combinations(2).map(p => (p(0), p(1)))
      .find(p => !gen.passes("minhash", p._1, p._2)).get
    check("a pair below its threshold fails the dedup check") {
      !DocsDedup.check(gen, planted, good.updated("minhash", good("minhash") :+ below), clusters)._1.ok
    }
    check("a wrong cluster representative fails the dedup check") {
      clusters.nonEmpty && !DocsDedup.check(gen, planted, good,
        clusters.updated(0, (clusters.head._1, clusters.head._1 + 1000)))._1.ok
    }
    println(s"${if (failures == 0) "ok" else s"$failures FAILED"}")
    System.exit(if (failures == 0) 0 else 1)
  }
}
