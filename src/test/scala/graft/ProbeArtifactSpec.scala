package graft

import java.nio.file.{Files, Paths}
import scala.collection.immutable.ListMap
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.Assertions._
import org.scalatest.funsuite.AnyFunSuite

/** Checks over the COMMITTED probe artifacts (`bench/<artifact>`, written
  * by `runMain graft.Probe <face>`): one table entry per face, one named
  * test per check. Re-run the face and re-commit its artifact when the
  * code it measures changes; a bound that trips means investigate, not
  * widen.
  */
object ProbeArtifactSpec {

  /** A growth face's cells and the count field each cell carries. */
  final case class Cells(names: Seq[String], count: String)

  final case class Gate(cells: Option[Cells], tests: (String, JsonNode => Unit)*)

  /** Each cell exists with positive ×1 and ×k seconds, plus `more`. */
  private def datapoints(root: JsonNode, ops: Seq[String], k: Int)(
      more: (String, JsonNode) => Unit = (_, _) => ()): Unit = {
    assert(root.get("replicas").asInt() == k)
    ops.foreach { op =>
      val c = root.get(op)
      assert(c != null, s"$op missing from artifact")
      assert(c.get("secs_x1").asDouble() > 0 && c.get(s"secs_x$k").asDouble() > 0, op)
      more(op, c)
    }
  }

  private def linear(root: JsonNode, ops: Seq[String], k: Int, bound: Double): Unit =
    ops.foreach { op =>
      val ratio = root.get(op).get("ratio").asDouble()
      assert(ratio < bound, s"$op x$k ratio $ratio — super-linear growth")
    }

  private def longs(a: JsonNode): Seq[Long] = (0 until a.size()).map(a.get(_).asLong())

  private val annOps = Seq("binary_hamming", "matryoshka", "pca_prefix", "mmr_corpus_stages")
  private val tokOps = Seq("wordpiece", "unigram")
  private val selOps = Seq("dsir_weights", "select_budget")
  private val r16Ops = Seq("decontaminate_semantic", "triplet_mining",
    "influence_scores", "eval_retrieval", "multimodal_ahash")
  private val r17Ops = Seq("influence_scores", "dedup_first_wins",
    "dedup_containment", "eval_retrieval_hybrid", "multimodal_ahash")

  val gates: ListMap[String, Gate] = ListMap(
    // the query batch is FIXED, so a super-linear ratio means a corpus ×
    // corpus (or queries × corpus) term crept into a scan
    "ann_ladder" -> Gate(Some(Cells(annOps, "rows")),
      "artifact exists with a datapoint per ladder operator" -> (root =>
        datapoints(root, annOps, 10) { (op, c) =>
          assert(c.get("rows_x1").asLong() > 0, s"$op produced no rows at x1")
        }),
      // linear target ≈ 10; a ratio beyond 25 means a quadratic term
      "x10 growth stays in the linear band (fixed query batch)" -> (root =>
        linear(root, annOps, 10, 25.0))),

    "tokenizer_serve" -> Gate(Some(Cells(tokOps, "pieces")),
      "artifact exists with a datapoint per tokenizer family" -> (root =>
        datapoints(root, tokOps, 10) { (op, c) =>
          // ×10 corpus with disjoint tagged words ⇒ strictly more pieces
          assert(c.get("pieces_x10").asLong() > c.get("pieces_x1").asLong(), op)
        }),
      "x10 growth stays in the linear band (fixed inventory, bounded encode)" -> (root =>
        linear(root, tokOps, 10, 30.0))),

    "selection" -> Gate(Some(Cells(selOps, "out")),
      "artifact exists with a datapoint per selection face" -> { root =>
        datapoints(root, selOps, 10)()
        // ×10 pool at the same budget fraction ⇒ strictly more selected docs
        assert(root.get("select_budget").get("out_x10").asLong() >
          root.get("select_budget").get("out_x1").asLong())
      },
      "x10 growth stays in the linear band" -> (root => linear(root, selOps, 10, 30.0))),

    "r16" -> Gate(Some(Cells(r16Ops, "out")),
      "artifact exists with a datapoint per round-16 face" -> (root =>
        datapoints(root, r16Ops, 10)()),
      // measured ratios (3.2–11.0) plus slack, NOT a loose 30 (which admits
      // ~n^1.48): a mildly quadratic regression in any face must trip this
      "x10 growth stays in the linear band" -> (root => linear(root, r16Ops, 10, 15.0))),

    "r17" -> Gate(Some(Cells(r17Ops, "out")),
      "artifact exists with a x100 datapoint per face" -> (root =>
        datapoints(root, r17Ops, 100)()),
      // measured 16.5–39.3× for ×100 data; a quadratic regression lands in
      // the thousands — 80 keeps ~2× headroom over the measured constants
      "x100 growth stays strongly sub-linear" -> (root => linear(root, r17Ops, 100, 80.0)),
      "per-replica structure is preserved exactly where the axis pins it" -> { root =>
        // the token-suffix perturbation is a bijective renaming per
        // replica, so first-wins output must be EXACTLY 100 * the x1 output
        val fw = root.get("dedup_first_wins")
        assert(fw.get("out_x100").asLong() == 100L * fw.get("out_x1").asLong(),
          s"first-wins x100 checksum ${fw.get("out_x100")} != 100 * ${fw.get("out_x1")}")
      }),

    "zipf_skew" -> Gate(None,
      "skew probe artifact exists and every guard actually activated" -> { root =>
        val fuzzy = root.get("fuzzy")
        assert(fuzzy.get("variant_buckets_over_cell").asLong() > 0,
          "no variant bucket exceeded the salt cell — the salted guard never split a bucket")
        assert(fuzzy.get("max_bucket").asLong() > fuzzy.get("cell").asLong())
        assert(root.get("minhash").get("hot_buckets").asLong() > 0,
          "minhash star guard never fired")
        assert(root.get("embedding").get("hot_buckets").asLong() > 0,
          "RP-LSH star guard never fired")
      },
      "salted fuzzy blocking is exact vs the unguarded self-join under skew" -> { root =>
        assert(root.get("fuzzy").get("pair_set_diff").asLong() == 0,
          "salted pair set diverged from the unguarded self-join")
        assert(root.get("fuzzy").get("salted_pairs").asLong() ==
          root.get("fuzzy").get("unguarded_pairs").asLong())
      },
      "star guards preserve verified dup-membership" -> { root =>
        assert(root.get("minhash").get("membership_diff_x1").asLong() == 0)
        assert(root.get("embedding").get("membership_diff_x1").asLong() == 0)
        // non-vacuous: the planted families (3% of 5000 docs, 5% of 2000
        // vectors at ×1 — both above tagHot's minHot=64, so the star guard
        // really fired in the compared run) must be in the membership
        assert(root.get("minhash").get("members_x1").asLong() > 120)
        assert(root.get("embedding").get("members_x1").asLong() > 80)
      },
      "hot reducer cell is bounded: salt cell pairs << worst unguarded bucket" -> { root =>
        val fuzzy = root.get("fuzzy")
        val maxB = fuzzy.get("max_bucket").asLong()
        assert(fuzzy.get("max_cell_pairs").asLong() < maxB * (maxB - 1) / 2,
          "the guard's per-cell bound does not beat the unguarded hot bucket")
      }),

    "skew_r14" -> Gate(None,
      "artifact exists and each axis's skew is real" -> { root =>
        assert(root.get("bpe").get("hot_share_pct").asDouble() >= 40.0,
          "BPE axis: the planted symbol is not hyper-frequent")
        val rrf = root.get("rrf")
        assert(rrf.get("planted_df").asLong() == rrf.get("n_docs").asLong(),
          "retrieval axis: the planted term is not in EVERY document (df < n)")
        assert(rrf.get("max_cand_per_query").asLong() >= (rrf.get("n_docs").asLong() * 9) / 10,
          "retrieval axis: the planted term did not saturate the posting list")
        val bk = root.get("bottomk")
        assert(bk.get("hot_group_docs").asLong() * 10 >= bk.get("total_docs").asLong() * 9,
          "bottom-k axis: the hot group does not dominate")
        val sk = root.get("sketch")
        assert(sk != null, "sketch axis missing")
        // ~100% of the const group sits in ONE bucket (value + 2 outliers)
        assert(sk.get("const_rows").asLong() >= 500 && sk.get("const_buckets").asLong() <= 3,
          "sketch axis: the constant group is not degenerate enough")
        // and the max-domain value reaches the sketch's TOP bucket exactly
        assert(sk.get("top_max_id").asLong() == sk.get("num_buckets").asLong() - 1,
          "sketch axis: Long.MaxValue did not land in the top bucket")
      },
      "exactness preserved under every skew axis" -> { root =>
        // the deep trainer hard-fails in-run if the batched fold diverges
        // from the closed-form site counts; a written artifact implies it held
        assert(root.get("bpe").get("hard_check").asText() == "passed")
        assert(root.get("bpe").get("rules").asLong() > 0)
        // bounded kminBy shortlists == unguarded rank windows, pair for pair
        assert(root.get("rrf").get("shortlist_diff").asLong() == 0,
          "kminBy retrieval shortlist diverged from the rank window under skew")
        assert(root.get("bottomk").get("sample_diff").asLong() == 0,
          "kminBy bottom-k sample diverged from the sort-based sample under skew")
        // every readout row's selected bucket contains the exact discrete
        // order statistic (rank error 0) at both degenerate extremes
        assert(root.get("sketch").get("within_violations").asLong() == 0,
          "quantile-sketch readout lost containment at a degenerate extreme")
        assert(root.get("sketch").get("readout_rows").asLong() == 6,
          "expected 2 groups x 3 quantiles of sketch readout rows")
      }),

    "skew_r15" -> Gate(None,
      "artifact exists and each axis's skew is real" -> { root =>
        // every 2nd token is the hot gram → 50% of the unigram mass = ~25%
        // of ALL feature instances land in one hash bucket
        assert(root.get("dsir_hot_bucket").get("hot_gram_pct").asDouble() > 20.0,
          "hot gram does not dominate the feature stream")
        assert(root.get("dsir_hot_bucket").get("docs").asInt() > 0)
        assert(root.get("prefix_total_tie").get("docs").asInt() > 0)
        assert(root.get("proto_hot_cluster").get("hot_cluster_pct").asDouble() > 90.0,
          "hot cluster does not dominate the assignment")
        assert(root.get("proto_hot_cluster").get("kept").asInt() > 0)
      },
      "exactness preserved under every skew axis" -> (root =>
        Seq("dsir_hot_bucket", "prefix_total_tie", "proto_hot_cluster").foreach { axis =>
          assert(root.get(axis).get("diffs").asInt() == 0,
            s"$axis drifted from its unguarded reference")
        })),

    "skew_r16" -> Gate(None,
      "artifact exists and each axis's skew is real" -> { root =>
        val hub = root.get("hub_frontier")
        // the near-duplicate blob must collapse the graph onto one hub
        assert(hub.get("max_degree").asInt() > hub.get("n").asInt() / 2,
          "no hub emerged from the near-duplicate blob")
        // and the frontier must actually explode: one BFS round carries the
        // bulk of the corpus
        val hops = hub.get("hops")
        val maxRound = Seq("1", "2", "3").flatMap(h => Option(hops.get(h))).map(_.asInt()).max
        assert(maxRound > hub.get("n").asInt() / 2, s"no frontier explosion: $hops")
        val seed = root.get("seed_source")
        assert(seed.get("seeds").asInt() >= seed.get("n").asInt() * 45 / 100,
          "seed source does not flood hop 0")
      },
      "hop-map exactness preserved under both skew axes" -> (root =>
        Seq("hub_frontier", "seed_source").foreach { axis =>
          assert(root.get(axis).get("diffs").asInt() == 0,
            s"$axis drifted from the independent BFS")
        })),

    "ahash_skew" -> Gate(None,
      "all-identical axis: star guard fires, n-1 Hamming-0 pairs, one n-cluster" -> { root =>
        val a = root.get("all_identical")
        val n = a.get("n").asLong()
        assert(a.get("pairs").asLong() == n - 1,
          "pair generation did not collapse to the star — the guard regressed")
        assert(a.get("ham0").asLong() == n - 1)
        assert(a.get("star_to_0").asLong() == n - 1)
        assert(a.get("hot_cluster").asLong() == n,
          "the CC action face lost members of the duplicate cluster")
        assert(a.get("pair_secs").asDouble() < 120.0)
      },
      "half-identical axis: the hot cluster is exactly the identical half, no leakage" -> { root =>
        val a = root.get("half_identical")
        val n = a.get("n").asLong()
        assert(a.get("star_to_0").asLong() == n / 2 - 1)
        assert(a.get("hot_cluster").asLong() == n / 2)
        // organic near-dup-dense half: pair volume is large by construction —
        // the receipt is that generation stays bounded in time, not count
        assert(a.get("pair_secs").asDouble() < 120.0)
        assert(a.get("cc_secs").asDouble() < 120.0)
      }),

    "aqe" -> Gate(None,
      "AQE coalesced the over-partitioned shuffle reads" -> { root =>
        val reads = longs(root.get("aqe_reads"))
        assert(reads.nonEmpty, "no AQEShuffleRead observed")
        reads.zipWithIndex.foreach { case (r, i) =>
          assert(r < root.get("initial_partitions").asInt() / 4,
            s"read $i kept $r of 512 partitions — AQE inert")
        }
      },
      "the skewed join was split and both workloads are partition-count invariant" -> { root =>
        assert(root.get("skew_join_marked").asBoolean(), "OptimizeSkewedJoin never fired")
        assert(root.get("results_identical").asBoolean(),
          "feature collapse drifted across partition counts")
        assert(root.get("skew_results_identical").asBoolean(),
          "skew join drifted across partition counts")
      }),

    "cluster" -> Gate(None,
      "artifact exists, from a genuinely multi-executor run" -> { root =>
        assert(root.get("master").asText().startsWith("spark://"),
          "probe did not run against a standalone master")
        assert(root.get("cluster_executors").asInt() >= 2,
          s"only ${root.get("cluster_executors")} executor(s) — not a multi-JVM run")
      },
      "cluster answers are bit-identical to local, at comparable wall" -> (root =>
        Seq("emb_lsh_x20", "corpus_clean").foreach { c =>
          val n = root.get(c)
          assert(n != null, s"$c missing from artifact")
          assert(n.get("match").asBoolean(),
            s"$c: cluster checksum ${n.get("checksum_cluster")} != local ${n.get("checksum_local")}")
          val ratio = n.get("cluster_sec").asDouble() / n.get("local_sec").asDouble()
          // real shuffle serialization should not triple the wall on one box
          assert(ratio < 3.0,
            s"$c: cluster ${n.get("cluster_sec")} s vs local ${n.get("local_sec")} s")
        })),

    "cluster_k" -> Gate(None,
      "k ∝ n collapses the pair budget and the wall-clock" -> { root =>
        assert(root.get("k64").get("pair_budget").asLong() * 4 <
          root.get("k8").get("pair_budget").asLong(),
          "k=64 did not collapse the candidate budget vs pinned k=8")
        assert(root.get("k64").get("secs").asDouble() < root.get("k8").get("secs").asDouble())
      },
      "IVF multi-probe recovers the finer clustering's boundary rows" -> { root =>
        // pinned k=64 loses rows to cluster boundaries; nprobe=2 at the SAME
        // k recovers the pinned k=8 face's full row count at a fraction of
        // its cost — the production composition (k ∝ n + multi-probe)
        val pinnedK8Rows = root.get("k8").get("rows").asLong()
        assert(root.get("k64").get("rows").asLong() < pinnedK8Rows,
          "vacuous: finer clustering lost no rows on this corpus")
        assert(root.get("ivf_k64").get("rows").asLong() >= pinnedK8Rows,
          "nprobe=2 at k=64 failed to recover the boundary rows")
        assert(root.get("ivf_k64").get("secs").asDouble() * 2 <
          root.get("k8").get("secs").asDouble(),
          "the composed face is not substantially cheaper than pinned k=8")
      }),

    "bpe_deep" -> Gate(None,
      "probe artifact exists with both batch widths at equal pass count" -> { root =>
        assert(root.get("passes").asInt() >= 4)
        assert(root.get("batch1").get("rules").asLong() == root.get("passes").asLong(),
          "batch=1 must learn exactly one rule per pass (the round-serial shape)")
      },
      "wall-clock grows with passes, not merges" -> { root =>
        val (r1, r32) = (root.get("batch1"), root.get("batch32"))
        val rulesRatio = r32.get("rules").asDouble() / r1.get("rules").asDouble()
        val secsRatio = r32.get("secs").asDouble() / r1.get("secs").asDouble()
        assert(rulesRatio >= 8.0, s"batch=32 learned only ${rulesRatio}x the rules of batch=1")
        assert(secsRatio <= 2.0, s"batch=32 cost ${secsRatio}x the wall-clock of batch=1 — " +
          "the batched pass is no longer merge-count-free")
      }),

    "bpe_depth" -> Gate(None,
      "depth artifact exists, clears the 4096-rule floor, hard checks held" -> { root =>
        assert(root.get("rules").asLong() >= root.get("min_rules").asLong() &&
          root.get("min_rules").asLong() >= 4096L,
          s"only ${root.get("rules")} rules — the depth regime was not reached")
        // the trainer hard-fails in-run if any pass's batched fold diverges
        // from the closed-form site counts; a written artifact implies every
        // pass held (trainDeepTrace requires minMerges and the per-pass law)
        assert(root.get("hard_check").asText() == "passed")
      },
      "per-pass wall is flat: cost scales with passes, not learned rules" -> { root =>
        val walls = root.get("wall_per_pass")
        val passes = root.get("passes").asInt()
        assert(walls != null && walls.size() == passes, s"expected $passes per-pass wall samples")
        val times = (0 until walls.size()).map(walls.get(_).asDouble())
        val sorted = times.sorted
        val median =
          if (sorted.size % 2 == 1) sorted(sorted.size / 2)
          else (sorted(sorted.size / 2 - 1) + sorted(sorted.size / 2)) / 2
        assert(times.max <= 3.0 * median,
          s"pass wall band broken: max ${times.max} > 3x median $median — " +
            "per-pass cost is growing with depth (or the box was loaded)")
        // and the LAST quarter of passes is not systematically slower than
        // the first quarter — the specific signature of depth-dependent cost
        val quarter = passes / 4
        val head = times.take(quarter).sum / quarter
        val tail = times.takeRight(quarter).sum / quarter
        assert(tail <= 2.0 * head,
          s"late passes average ${tail}s vs early ${head}s — cost grows with depth")
      },
      "rules per pass stay near the batch width on a wide vocabulary" -> { root =>
        val rpp = root.get("rules_per_pass")
        assert(rpp != null && rpp.size() == root.get("passes").asInt())
        val counts = longs(rpp)
        assert(counts.forall(_ >= 1), "a pass learned zero rules")
        // the chain-greedy scan keeps finding big disjoint batches pass
        // after pass — no collapse as the vocabulary deepens (measured
        // plateau ≈ 120 of batch 256; floor at a quarter batch)
        assert(counts.min >= 64, s"rules-per-pass collapsed: min ${counts.min}, max ${counts.max}")
      }))
}

/** One face's artifact checks. Each face keeps its own suite name, so
  * every check keeps the test id it has always had.
  */
abstract class ProbeArtifactSpec(face: String) extends AnyFunSuite {
  private val path = Paths.get("bench", Probe.face(face).artifact)
  private lazy val root = new ObjectMapper().readTree(Files.readAllBytes(path))

  ProbeArtifactSpec.gates(face).tests.foreach { case (name, check) =>
    test(name) {
      assert(Files.exists(path), s"$path missing — run graft.Probe $face and commit the artifact")
      check(root)
    }
  }
}

class AnnLadderProbeArtifactSpec extends ProbeArtifactSpec("ann_ladder")
class TokenizerServeProbeArtifactSpec extends ProbeArtifactSpec("tokenizer_serve")
class SelectionProbeArtifactSpec extends ProbeArtifactSpec("selection")
class R16ProbeArtifactSpec extends ProbeArtifactSpec("r16")
class R17ProbeArtifactSpec extends ProbeArtifactSpec("r17")
class SkewProbeArtifactSpec extends ProbeArtifactSpec("zipf_skew")
class SkewProbeR14ArtifactSpec extends ProbeArtifactSpec("skew_r14")
class SkewProbeR15ArtifactSpec extends ProbeArtifactSpec("skew_r15")
class SkewProbeR16ArtifactSpec extends ProbeArtifactSpec("skew_r16")
class AhashSkewProbeArtifactSpec extends ProbeArtifactSpec("ahash_skew")
class AqeProbeArtifactSpec extends ProbeArtifactSpec("aqe")
class ClusterProbeArtifactSpec extends ProbeArtifactSpec("cluster")
class ClusterKProbeArtifactSpec extends ProbeArtifactSpec("cluster_k")
class BpeDeepProbeArtifactSpec extends ProbeArtifactSpec("bpe_deep")
class BpeDepthProbeArtifactSpec extends ProbeArtifactSpec("bpe_depth")
