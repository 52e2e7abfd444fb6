package graft

import org.scalatest.funsuite.AnyFunSuite

/** The Verify subset flag is how scale passes restrict to a headline set;
  * a typo'd name silently matching nothing would produce a green artifact
  * that verified nothing, so unknown names must be detected (main exits
  * non-zero on any). */
class VerifySubsetSpec extends AnyFunSuite {

  test("registered names pass, unknown names are surfaced") {
    assert(Verify.unknownNames(Set("q1_agg", "dedup_minhash")).isEmpty)
    assert(Verify.unknownNames(Set("q1_agg", "dedup_minhsah")) ==
      Set("dedup_minhsah"))
  }

  test("every name in the committed 100x headline set is registered") {
    // the set the scale pass actually uses — keep in sync with the
    // CORRECTNESS_sf100x generator invocation
    val headline = Set("contamination", "dedup_drop", "dedup_embed",
      "dedup_exact", "dedup_groups", "dedup_minhash", "dedup_simhash",
      "embed_ivf_ann", "embed_lsh_ann", "embed_quantized_topk",
      "multimodal_image", "pipeline_curate", "q_interval_join", "tfidf_topk",
      "closed_sessions")
    assert(Verify.unknownNames(headline).isEmpty)
  }

  test("a non-fatal failure skips its query; a fatal error ends the run") {
    val ran = scala.collection.mutable.ArrayBuffer.empty[String]
    Verify.writeEach(Seq("a", "b", "c")) { name =>
      ran += name
      if (name == "b") throw new IllegalStateException("planted")
    }
    assert(ran == Seq("a", "b", "c"))
    ran.clear()
    val fatal = intercept[OutOfMemoryError](Verify.writeEach(Seq("a", "b", "c")) { name =>
      ran += name
      if (name == "b") throw new OutOfMemoryError("planted")
    })
    assert(fatal.getMessage == "planted")
    assert(ran == Seq("a", "b"))
  }
}
