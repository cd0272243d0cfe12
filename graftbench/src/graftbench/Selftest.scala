package graftbench

/** Tests of the benchmark itself (no Spark needed): generated inputs are
  * a pure function of the seed, and every planted-truth check rejects a
  * result that lacks one planted item. Run with `python3 -m unittest
  * discover -s graftbench/tests`. */
object Selftest {

  private def replicateDigest(seed: Long): String = {
    val p = Replicate.Params()
    val d = new Gen.Digest
    (0 until p.initialKeys).foreach(k => d.add(Replicate.envelope(Replicate.initialEvent(seed, k))))
    for (i <- 0 until 3) {
      val (pub, withheld) = Replicate.cycle(seed, p, i)
      pub.foreach(e => d.add(Replicate.envelope(e)))
      withheld.foreach(e => d.add("withheld " + Replicate.envelope(e)))
    }
    d.hex
  }

  private def backfillDigest(seed: Long): String = {
    val p = Backfill.Params()
    val d = new Gen.Digest
    (0L until p.events).foreach(j => d.add(Backfill.logRow(seed, p, j).toString))
    Backfill.plan(seed, p).targetCents.foreach(c => d.add(c.toString))
    d.hex
  }

  private def curateDigest(seed: Long): String = {
    val p = Curate.Params()
    val orig = Curate.originals(seed, p)
    val d = new Gen.Digest
    (0L until p.docs).foreach { doc =>
      d.add(Curate.text(seed, p, orig, doc))
      d.add(Curate.embedding(seed, p, doc).mkString(","))
    }
    d.hex
  }

  /** `check` accepts the full planted set and rejects it minus one item. */
  private def rejectsDrop[T](check: Seq[T] => Seq[String], planted: Seq[T]): Boolean =
    planted.nonEmpty && check(planted).isEmpty && check(planted.tail).nonEmpty

  def run(): Boolean = {
    val seed = 7L
    val cases = Seq.newBuilder[(String, () => Boolean)]

    for ((name, digest) <- Seq[(String, Long => String)](
      "replicate" -> replicateDigest, "backfill_verify" -> backfillDigest, "curate" -> curateDigest)) {
      cases += (s"$name: same seed, identical inputs" -> (() => digest(seed) == digest(seed)))
      cases += (s"$name: other seed, other inputs" -> (() => digest(seed) != digest(seed + 1)))
    }

    cases += ("replicate: withheld events span c/u/d in distinct digest buckets" -> { () =>
      val p = Replicate.Params()
      (0 until 3).forall { i =>
        val (pub, w) = Replicate.cycle(seed, p, i)
        val keys = (pub ++ w).map(_.key)
        w.length == 3 * p.withheldPerOp &&
          w.map(_.op).distinct.length == 3 &&
          w.map(e => java.lang.Math.floorMod(e.key, p.digestBuckets.toLong)).distinct.length == w.length &&
          keys.distinct.length == keys.length &&
          (pub ++ w).map(_.lsn).sorted.sameElements((pub ++ w).map(_.lsn).sorted.distinct)
      }
    })
    cases += ("replicate: drill-down check rejects a dropped withheld key" -> { () =>
      val (_, w) = Replicate.cycle(seed, Replicate.Params(), 0)
      val expected = w.map(e => (e.key, Replicate.diffOf(e))).toSet
      rejectsDrop[(Long, String)](Truth.sameSet("drill", expected, _), expected.toSeq)
    })
    cases += ("replicate: health check rejects a missing table" -> { () =>
      rejectsDrop[(String, Long)](Truth.sameSet("health", Set(("orders", 42L)), _), Seq(("orders", 42L)))
    })
    cases += ("backfill_verify: reconcile checks reject a dropped planted divergence" -> { () =>
      val expected = Backfill.plan(seed, Backfill.Params()).expected
      expected.size == 3 * Backfill.Params().plantedPerKind &&
        rejectsDrop[(Long, String)](Truth.sameSet("drill", expected, _), expected.toSeq)
    })
    val planted = Curate.planted(seed, Curate.Params())
    cases += ("curate: exact-duplicate check rejects a dropped pair" -> { () =>
      rejectsDrop[(Long, Long)](Truth.sameSet("exact", planted.exact, _), planted.exact.toSeq)
    })
    cases += ("curate: minhash check rejects a dropped exact-copy pair" -> { () =>
      rejectsDrop[(Long, Long)](Truth.covers("minhash", planted.exact, _), planted.exact.toSeq)
    })
    cases += ("curate: components check rejects a dropped label" -> { () =>
      val pairs = (planted.exact ++ planted.near).toSeq
      val labels = Truth.components(pairs)
      labels.size == 2 * pairs.size &&
        rejectsDrop[(Long, Long)](Truth.sameSet("components", labels, _), labels.toSeq)
    })
    cases += ("curate: components reference labels each node with its component minimum" -> { () =>
      Truth.components(Seq((3L, 1L), (1L, 2L), (5L, 4L), (9L, 5L))) ==
        Set((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L), (5L, 4L), (9L, 4L))
    })
    cases += ("curate: knn check rejects a dropped neighbour" -> { () =>
      rejectsDrop[(Long, Long)](Truth.sameSet("knn", planted.knn, _), planted.knn.toSeq)
    })
    cases += ("curate: near copies differ from their originals, exact copies do not" -> { () =>
      val p = Curate.Params()
      val orig = Curate.originals(seed, p)
      planted.exact.forall { case (a, b) => Curate.text(seed, p, orig, a) == Curate.text(seed, p, orig, b) } &&
        planted.near.forall { case (a, b) => Curate.text(seed, p, orig, a) != Curate.text(seed, p, orig, b) }
    })

    cases.result().map { case (name, test) =>
      val passed = try test() catch { case e: Throwable => System.err.println(e); false }
      println(s"selftest: ${if (passed) "PASS" else "FAIL"} $name")
      passed
    }.forall(identity)
  }
}
