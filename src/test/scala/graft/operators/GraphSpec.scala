package graft.operators

import graft.SparkTestBase

class GraphSpec extends SparkTestBase {
  import spark.implicits._

  // two components {1,2,3,4} (path + chord) and {10, 11}; 20-20 self-loop
  private def edges = Seq((2L, 1L), (2L, 3L), (3L, 4L), (1L, 3L),
    (11L, 10L), (20L, 20L)).toDF("a", "b")

  test("connectedComponents labels by component minimum (both paths)") {
    for (localMax <- Seq(1000000L, 0L)) { // driver shortcut AND distributed
      val got = Graph.connectedComponents(edges, "a", "b", localMaxEdges = localMax)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
        10L -> 10L, 11L -> 10L), s"localMaxEdges=$localMax")
    }
  }

  test("componentSizes: histogram largest-first") {
    val got = Graph.componentSizes(edges, "a", "b")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == Seq((1L, 4L), (10L, 2L)))
  }

  test("degrees: undirected, parallel edges once, self-loops ignored") {
    val withDup = edges.union(Seq((1L, 2L), (3L, 2L)).toDF("a", "b"))
    val got = Graph.degrees(withDup, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 2L, 2L -> 2L, 3L -> 3L, 4L -> 1L,
      10L -> 1L, 11L -> 1L))
  }

  test("non-integral id columns fail loudly instead of nulling edges") {
    val strEdges = Seq(("u1", "u2"), ("u2", "u3")).toDF("a", "b")
    val dblEdges = Seq((1.5, 2.0)).toDF("a", "b")
    for (bad <- Seq(strEdges, dblEdges)) {
      assertThrows[IllegalArgumentException](
        Graph.connectedComponents(bad, "a", "b"))
      assertThrows[IllegalArgumentException](Graph.degrees(bad, "a", "b"))
      assertThrows[IllegalArgumentException](
        Graph.componentSizes(bad, "a", "b"))
    }
    // int ids remain fine (widening cast is lossless)
    val intEdges = Seq((1, 2), (2, 3)).toDF("a", "b")
    assert(Graph.connectedComponents(intEdges, "a", "b").count() == 3)
  }

  test("connectedComponentsAgainst ≡ full recompute, for every batch split") {
    // full graph: {1..4} ∪ {10,11} ∪ {5,6} with a batch-2 edge merging
    // {1..4} with {5,6}, a batch-2 brand-new component {30,31}, and a
    // batch-2 node (0) that becomes the merged component's NEW minimum
    val all = Seq((2L, 1L), (2L, 3L), (3L, 4L), (1L, 3L), (11L, 10L),
      (5L, 6L), (4L, 5L), (30L, 31L), (0L, 6L))
    val expect = Graph.connectedComponents(
        all.toDF("a", "b"), "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // every contiguous split point: artifact from the prefix, batch = suffix
    for (cut <- 1 until all.size) {
      val artifact = Graph.connectedComponents(
        all.take(cut).toDF("a", "b"), "a", "b")
      val got = Graph.connectedComponentsAgainst(
          artifact, all.drop(cut).toDF("a", "b"), "a", "b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expect, s"cut=$cut: incremental diverged from recompute")
    }
  }

  test("connectedComponentsAgainst: untouched components keep their labels; ref round-trip") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cc_ref").toString
    Graph.saveComponents(edges, "a", "b", s"$dir/cc")
    // the new batch touches only {10,11} (adds 9, the new minimum)
    val got = Graph.connectedComponentsAgainstRef(
        Seq((9L, 11L)).toDF("a", "b"), s"$dir/cc", "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      9L -> 9L, 10L -> 9L, 11L -> 9L))
    // a frame that is not a labeling fails loudly
    assertThrows[IllegalArgumentException](
      Graph.connectedComponentsAgainst(edges,
        Seq((1L, 2L)).toDF("a", "b"), "a", "b"))
  }

  test("connectedComponentsAgainst refuses non-canonical artifacts loudly") {
    val batch = Seq((3L, 10L)).toDF("a", "b")
    // label > member id: caught by the always-on in-scan raise_error
    // guard (fused into the artifact projection — fires during the
    // call's first artifact scan, wrapped by Spark's task failure)
    val repLabeled = Seq((1L, 4L), (2L, 4L), (3L, 4L), (4L, 4L))
      .toDF("id", "component")
    val e1 = intercept[Throwable](
      Graph.connectedComponentsAgainst(repLabeled, batch, "a", "b").collect())
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e1).exists(_.contains("not canonical")),
      s"expected the canonicality refusal, got: ${messages(e1)}")
    // synthetic labels BELOW every member id pass the in-scan guard
    // but are still non-canonical — caught by DEFAULT via the sampled
    // self-row probe (a canonical label always labels itself), and by
    // the exact per-component check behind the conf. r19: the probe's
    // self-row assertion is FUSED into the result (same lazy-loud
    // contract as the in-scan guard) — it fires on the first action.
    val synthetic = Seq((10L, -7L), (11L, -7L), (1L, -9L), (2L, -9L))
      .toDF("id", "component")
    val eProbe = intercept[Throwable](
      Graph.connectedComponentsAgainst(synthetic, batch, "a", "b").collect())
    assert(messages(eProbe).exists(_.contains("no self-row")),
      s"expected the sampled-probe refusal, got: ${messages(eProbe)}")
    spark.conf.set(Graph.ValidateCanonicalArtifactConf, "true")
    try {
      val e2 = intercept[IllegalStateException](
        Graph.connectedComponentsAgainst(synthetic, batch, "a", "b").collect())
      assert(e2.getMessage.contains("minimum member id"))
      // a canonical artifact passes the full check and still works
      val artifact = Graph.connectedComponents(edges, "a", "b")
      val got = Graph.connectedComponentsAgainst(artifact, batch, "a", "b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
        10L -> 1L, 11L -> 1L))
    } finally spark.conf.unset(Graph.ValidateCanonicalArtifactConf)
  }

  test("sampled canonicality probe: null labels refused, conf=0 disables, valid artifacts pass") {
    val batch = Seq((3L, 10L)).toDF("a", "b")
    // NULL component labels never appear in a canonical artifact and
    // would slide through the raise_error guard (null > id is null)
    val withNull = Seq((1L, Some(1L)), (2L, None))
      .toDF("id", "component")
    val eNull = intercept[IllegalStateException](
      Graph.connectedComponentsAgainst(withNull, batch, "a", "b"))
    assert(eNull.getMessage.contains("NULL component"))
    // conf=0 disables the probe: the below-id labeling is accepted
    // silently again (the documented tight-loop escape hatch)
    val synthetic = Seq((10L, -7L), (11L, -7L)).toDF("id", "component")
    spark.conf.set(Graph.CanonicalProbeLabelsConf, "0")
    try {
      assert(Graph.connectedComponentsAgainst(synthetic, batch, "a", "b")
        .count() > 0)
    } finally spark.conf.unset(Graph.CanonicalProbeLabelsConf)
    // a valid artifact passes the probe (no false positives): every
    // canonical label has its self-row by construction
    val artifact = Graph.connectedComponents(edges, "a", "b")
    val got = Graph.connectedComponentsAgainst(artifact, batch, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 1L, 11L -> 1L))
  }

  test("assertCanonicalArtifact: accepts canonical labelings, refuses everything else") {
    // the validate-once-before-a-campaign form of the exact check
    Graph.assertCanonicalArtifact(Graph.connectedComponents(edges, "a", "b"))
    val below = Seq((10L, -7L), (11L, -7L)).toDF("id", "component")
    assert(intercept[IllegalStateException](
      Graph.assertCanonicalArtifact(below)).getMessage.contains("not canonical"))
    val wrongMin = Seq((3L, 4L), (4L, 4L)).toDF("id", "component")
    assert(intercept[IllegalStateException](
      Graph.assertCanonicalArtifact(wrongMin)).getMessage.contains("not canonical"))
    val withNull = Seq((Some(1L), Some(1L)), (Some(2L), Option.empty[Long]))
      .toDF("id", "component")
    assert(intercept[IllegalStateException](
      Graph.assertCanonicalArtifact(withNull)).getMessage.contains("not canonical"))
    assertThrows[IllegalArgumentException](
      Graph.assertCanonicalArtifact(edges)) // wrong schema
    // the Ref form round-trips a saveComponents artifact
    val dir = java.nio.file.Files.createTempDirectory("graft_cc_val").toString
    Graph.saveComponents(edges, "a", "b", s"$dir/cc")
    Graph.assertCanonicalArtifactRef(spark, s"$dir/cc")
  }

  test("empty artifact: vacuously canonical, and ingest equals a plain recompute") {
    // r18 verdict 6b: the standalone validator and the per-ingest
    // machinery must agree on the degenerate artifact. An empty
    // labeling has no component violating anything — both the exact
    // check and the probe accept it — and ingesting against it is
    // exactly connectedComponents over the batch alone.
    val empty = Seq.empty[(Long, Long)].toDF("id", "component")
    Graph.assertCanonicalArtifact(empty) // no-throw
    val batch = Seq((2L, 1L), (3L, 2L), (10L, 11L)).toDF("a", "b")
    val expect = Graph.connectedComponents(batch, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = Graph.connectedComponentsAgainst(empty, batch, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expect, "empty-artifact ingest diverged from recompute")
    spark.conf.set(Graph.ValidateCanonicalArtifactConf, "true")
    try {
      val gotExact = Graph.connectedComponentsAgainst(empty, batch, "a", "b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(gotExact == expect)
    } finally spark.conf.unset(Graph.ValidateCanonicalArtifactConf)
  }

  test("probe verifies every TOUCHED label deterministically, not just by luck") {
    // 50 canonical components plus ONE below-id component {200, 201} →
    // -5. With the cap pinned to 1, a purely global sample would
    // almost surely pick a canonical label and pass — the probe must
    // still refuse because touched components are collected FIRST and
    // the batch touches exactly the bad one (the merge-precondition
    // determinism the conf scaladoc promises).
    val good = (0L until 100L by 2L).flatMap(i => Seq((i, i), (i + 1, i)))
    val art = (good :+ ((200L, -5L)) :+ ((201L, -5L))).toDF("id", "component")
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    spark.conf.set(Graph.CanonicalProbeLabelsConf, "1")
    try {
      val e = intercept[Throwable](
        Graph.connectedComponentsAgainst(
          art, Seq((200L, 300L)).toDF("a", "b"), "a", "b").collect())
      assert(messages(e).exists(_.contains("no self-row")),
        s"expected the touched-label refusal, got: ${messages(e)}")
    } finally spark.conf.unset(Graph.CanonicalProbeLabelsConf)
  }

  test("probe reaches garbage past the scan head: per-partition sample (r18 verdict)") {
    // partition 0 is a perfectly canonical head; partition 1 carries a
    // below-every-id labeling the batch never touches. The r18 global
    // `limit(probeN)` head sample read only partition 0 and passed
    // this artifact silently; the r19 per-partition head sample takes
    // the head of EVERY partition, so the tail garbage is found — and
    // the refusal fires on the result's first action (the fused leg).
    val head = (0L until 40L by 2L).flatMap(i => Seq((i, i), (i + 1, i)))
      .toDF("id", "component").coalesce(1)
    val tail = Seq((200L, -7L), (201L, -7L)).toDF("id", "component").coalesce(1)
    val art = head.unionAll(tail) // 2 partitions, garbage only in #1
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    // batch touches only the canonical head component {0, 1}
    val e = intercept[Throwable](
      Graph.connectedComponentsAgainst(
        art, Seq((1L, 300L)).toDF("a", "b"), "a", "b").collect())
    assert(messages(e).exists(_.contains("no self-row")),
      s"tail-partition garbage escaped the per-partition sample: ${messages(e)}")
  }

  test("touched-label cap overflow: degrades to a sampled check, never a false refusal") {
    // a batch touching MORE components than the cap can no longer be
    // verified deterministically — the probe checks cap+1 of them and
    // logs a warning (r18 verdict 6a pin: the degradation is defined
    // behavior, not a silent skip). A canonical artifact must still
    // pass, and the merge must still be correct.
    val art = Seq((1L, 1L), (2L, 2L), (3L, 3L), (4L, 4L))
      .toDF("id", "component")
    spark.conf.set(Graph.CanonicalProbeLabelsConf, "1")
    try {
      val got = Graph.connectedComponentsAgainst(
          art, Seq((1L, 2L), (3L, 4L)).toDF("a", "b"), "a", "b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L))
    } finally spark.conf.unset(Graph.CanonicalProbeLabelsConf)
  }

  test("exact check behind the conf refuses NULL ids and NULL labels (ADVICE r18)") {
    // the pre-r19 per-ingest exact check filtered `min != component`,
    // which drops NULL-component groups and never looks at ids — a
    // null-label artifact the DEFAULT probe refuses was accepted
    // silently under the STRICTER conf. Both null shapes must refuse
    // eagerly now (the exact check is driver-side), matching
    // assertCanonicalArtifact.
    val batch = Seq((3L, 10L)).toDF("a", "b")
    spark.conf.set(Graph.ValidateCanonicalArtifactConf, "true")
    try {
      val nullLabel = Seq((1L, Some(1L)), (2L, None)).toDF("id", "component")
      val e1 = intercept[IllegalStateException](
        Graph.connectedComponentsAgainst(nullLabel, batch, "a", "b"))
      assert(e1.getMessage.contains("NULL"),
        s"null-label artifact accepted under the exact check: ${e1.getMessage}")
      val nullId = Seq((Some(1L), Some(1L)), (Option.empty[Long], Some(1L)))
        .toDF("id", "component")
      val e2 = intercept[IllegalStateException](
        Graph.connectedComponentsAgainst(nullId, batch, "a", "b"))
      assert(e2.getMessage.contains("NULL"),
        s"null-id artifact accepted under the exact check: ${e2.getMessage}")
    } finally spark.conf.unset(Graph.ValidateCanonicalArtifactConf)
  }

  test("raise_error guard survives optimization in EVERY artifact consumer") {
    // r17-verdict adversarial pin: the guard is fused into the `id`
    // projection — if any consumer's column pruning could drop it, a
    // non-canonical row in that consumer's slice would pass silently.
    // Disable the sampled probe so the guard is the ONLY defence.
    spark.conf.set(Graph.CanonicalProbeLabelsConf, "0")
    try {
      def messages(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
      // (a) the bad row is OUTSIDE the touched slice: only the relabel
      // join scans it, so the guard must survive in that branch
      val badUntouched = Seq((10L, 10L), (11L, 10L), (5L, 7L))
        .toDF("id", "component")
      val e1 = intercept[Throwable](Graph.connectedComponentsAgainst(
        badUntouched, Seq((10L, 11L)).toDF("a", "b"), "a", "b").collect())
      assert(messages(e1).exists(_.contains("not canonical")),
        s"relabel branch lost the guard: ${messages(e1)}")
      // (b) the bad row IS the touched slice: the semi-join scan must
      // fire the guard during the eager touched-slice materialisation
      val badTouched = Seq((10L, 10L), (11L, 10L), (2L, 3L))
        .toDF("id", "component")
      val e2 = intercept[Throwable](Graph.connectedComponentsAgainst(
        badTouched, Seq((2L, 50L)).toDF("a", "b"), "a", "b").collect())
      assert(messages(e2).exists(_.contains("not canonical")),
        s"touched-slice branch lost the guard: ${messages(e2)}")
      // (c) plan pin: the OPTIMIZED plan of the returned frame still
      // carries the raise_error projection (constant folding / column
      // pruning did not eliminate it from the relabel scan)
      val artifact = Graph.connectedComponents(edges, "a", "b")
      val out = Graph.connectedComponentsAgainst(
        artifact, Seq((3L, 10L)).toDF("a", "b"), "a", "b")
      assert(out.queryExecution.optimizedPlan.toString.contains("raise_error"),
        "optimized plan dropped the canonicality raise_error guard")
    } finally spark.conf.unset(Graph.CanonicalProbeLabelsConf)
  }

  test("connectedComponentsAgainst: shuffle-join fallback ≡ broadcast relabel") {
    val all = Seq((2L, 1L), (2L, 3L), (3L, 4L), (1L, 3L), (11L, 10L),
      (5L, 6L), (4L, 5L), (30L, 31L), (0L, 6L))
    val artifact = Graph.connectedComponents(
      all.take(5).toDF("a", "b"), "a", "b")
    val batch = all.drop(5).toDF("a", "b")
    val expect = Graph.connectedComponentsAgainst(artifact, batch, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // budget -1 forces BOTH shuffle fallbacks: the touched-slice
    // endpoints join (ADVICE r17) and the relabel mapping join
    withSessionConf("spark.sql.autoBroadcastJoinThreshold", "-1") {
      val out = Graph.connectedComponentsAgainst(artifact, batch, "a", "b")
      val plan = out.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastHashJoin"), s"budget -1 still broadcasts:\n$plan")
      val got = out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expect, "shuffle-join fallback diverged from broadcast")
    }
  }

  test("null edge endpoints: dropped identically by incremental and recompute") {
    // r17-verdict adversarial pin (artTouched equivalence under nulls):
    // greatest/least skip nulls, so a (null, x) edge canonicalises to
    // the self-loop (x, x) and is dropped — node x must NOT enter the
    // labeling through it, on EITHER path. duplicateClusters applies
    // the same hygiene, so incremental ≡ recompute holds.
    val withNulls = Seq(
      (Some(1L), Some(2L)), (Some(2L), Some(3L)),
      (None, Some(9L)), (Some(9L), None),
      (Option.empty[Long], Option.empty[Long])).toDF("a", "b")
    val expect = Graph.connectedComponents(withNulls, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val hist = Seq((Some(1L), Some(2L))).toDF("a", "b")
    val batch = Seq((Some(2L), Some(3L)), (None, Some(9L)),
      (Some(9L), None), (Option.empty[Long], Option.empty[Long]))
      .toDF("a", "b")
    val got = Graph.connectedComponentsAgainst(
        Graph.connectedComponents(hist, "a", "b"), batch, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expect, "incremental diverged from recompute under nulls")
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L),
      "a null-endpoint edge must not introduce its non-null side")
  }

  test("connectedComponentsStringIds: labels by lexicographic-min member") {
    val strEdges = Seq(("bob", "alice"), ("bob", "carol"),
      ("erin", "dave")).toDF("a", "b")
    val got = Graph.connectedComponentsStringIds(strEdges, "a", "b")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == Map("alice" -> "alice", "bob" -> "alice",
      "carol" -> "alice", "dave" -> "dave", "erin" -> "dave"))
    // UUID-shaped ids work end-to-end
    val u = Array.fill(4)(java.util.UUID.randomUUID().toString)
    val uuidGot = Graph.connectedComponentsStringIds(
        Seq((u(0), u(1)), (u(2), u(3))).toDF("a", "b"), "a", "b")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(uuidGot(u(0)) == uuidGot(u(1)) && uuidGot(u(2)) == uuidGot(u(3)))
    assert(uuidGot(u(0)) == Seq(u(0), u(1)).min &&
      uuidGot(u(2)) == Seq(u(2), u(3)).min)
    // integral ids are refused (use connectedComponents directly)
    assertThrows[IllegalArgumentException](
      Graph.connectedComponentsStringIds(edges, "a", "b"))
    // the planted-collision refusal (the branch itself — a real
    // xxhash64 collision is not constructible in a spec)
    assertThrows[IllegalStateException](
      Graph.requireNoHashCollision(5L, 4L))
    Graph.requireNoHashCollision(5L, 5L) // no-throw
  }
}
