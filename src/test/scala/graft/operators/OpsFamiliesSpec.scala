package graft.operators

import graft.SparkSpec
import com.fasterxml.jackson.databind.ObjectMapper

/** The [[OpsFamilies]] registry's shape: `stores` is the one declaration
  * of each family's dated stores, and every other view derives from it.
  * Only names are built here — no Spark job runs. */
class OpsFamiliesSpec extends SparkSpec {

  private val dir = "/tmp/opsfam-store"
  private def storesOf(fam: String) = OpsFamilies.stores("s", dir, fam)

  test("every registered family declares a non-empty set of uniquely labelled stores") {
    OpsFamilies.Names.foreach { fam =>
      val labels = storesOf(fam).map(_.family)
      assert(labels.nonEmpty, fam)
      assert(labels.distinct == labels, s"$fam: $labels")
      assert(labels.forall(_.startsWith(s"${fam}_")), s"$fam: $labels")
    }
  }

  test("a family is path-backed exactly when all of its stores are paths") {
    OpsFamilies.Names.foreach { fam =>
      val locs = storesOf(fam).map(_.store)
      assert(OpsFamilies.PathNames.contains(fam) ==
        locs.forall(_.isInstanceOf[PathLoc]), s"$fam: $locs")
      assert(locs.forall(_.isInstanceOf[PathLoc]) ||
        locs.forall(_.isInstanceOf[TableLoc]), s"$fam mixes kinds: $locs")
    }
    assert(OpsFamilies.PathNames.subsetOf(OpsFamilies.Names.toSet))
  }

  test("the ledger-judged stores are the declared stores, minus components' labels and edges") {
    OpsFamilies.Names.foreach { fam =>
      val all = storesOf(fam)
      val judged = OpsFamilies.ledgerStores("s", dir, fam)
      assert(judged.forall(all.contains), fam)
      if (fam == "components")
        assert(judged.map(_.family) == Seq("components_sigs"), judged)
      else assert(judged == all, fam)
    }
  }

  test("the store root each kind needs is required by name") {
    val noStore = intercept[IllegalArgumentException](
      OpsFamilies.stores("", dir, "postings"))
    assert(noStore.getMessage.contains("--STORE"), noStore.getMessage)
    val noDir = intercept[IllegalArgumentException](
      OpsFamilies.stores("s", "", "spans"))
    assert(noDir.getMessage.contains("--STORE_DIR"), noDir.getMessage)
  }

  test("stores, curate, takedown and maintain reject an unknown family with one error listing the registry") {
    val msgs = Seq(
      intercept[IllegalArgumentException](
        OpsFamilies.stores("s", dir, "bogus")),
      intercept[IllegalArgumentException](
        OpsFamilies.curate("s", "bogus", "id", "text", "embedding", 0.5,
          0.9, 0L, storeDir = dir)),
      intercept[IllegalArgumentException](
        OpsFamilies.takedown(spark, "s", "bogus", storeDir = dir)),
      intercept[IllegalArgumentException](
        OpsFamilies.maintain("s", "bogus", None, storeDir = dir))
    ).map(_.getMessage)
    assert(msgs.distinct.size == 1, msgs)
    assert(msgs.head.contains("unknown family 'bogus'"), msgs.head)
    OpsFamilies.Names.foreach(n => assert(msgs.head.contains(n), msgs.head))
  }

  test("a policy event line stays valid JSON when the window holds a quote") {
    val line = OpsFamilies.policyEvent("vec_policy", "s_vec", "w\"1\\x",
      "refit(gen=policy_w)")
    val js = new ObjectMapper().readTree(line)
    assert(js.get("event").asText == "vec_policy")
    assert(js.get("store").asText == "s_vec")
    assert(js.get("window").asText == "w\"1\\x")
    assert(js.get("action").asText == "refit(gen=policy_w)")
  }
}
