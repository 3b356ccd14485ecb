package e2ebench

import graft.sources.KafkaStubBroker
import org.scalatest.funsuite.AnyFunSuite

/** The smoke mode: every workload end to end on the small sf0.01 tables, plus the
  * proof that a wrong result is a failed op and never a fast success.
  */
class WorkloadSpec extends AnyFunSuite {

  test("every workload passes its gates on the sf0.01 tables") {
    Seq("pipeline_microbatch", "catalog_operators").foreach { name =>
      val ctx = TestSession.ctx(traced = false)
      val w = Workload.named(name)
      w.setup(ctx)
      val o = w.run(ctx)
      assert(o.attempted > 0, name)
      assert(o.failed == 0, name)
      assert(o.latencies.size == o.attempted, name)
    }
  }

  test("a traced pipeline run reports every layer and its layer calls cover the op") {
    val ctx = TestSession.ctx(traced = true)
    val w = new PipelineWorkload
    w.setup(ctx)
    val o = w.run(ctx)
    assert(o.failed == 0)
    val m = o.layers.map(x => x.name -> x.value).toMap
    PipelineWorkload.Layers.foreach(l => assert(m(s"$l.jobs") > 0, l))
    assert(m("pipeline.run.jobs") >= PipelineWorkload.Layers.map(l => m(s"$l.jobs")).sum)
    val share = o.diag.toMap.apply("layer_share").split(",").map(_.toDouble)
    assert(share.forall(x => x > 0.9 && x <= 1.0), share.mkString(","))
    assert(Layer.complete(o.layers).size == Layer.All.size)
  }

  test("a query with a wrong expected digest fails its op") {
    val wrong = TestSession.smokeDigests.updated("q101",
      TestSession.smokeDigests("q101").copy(hash = Some("1")))
    val ctx = TestSession.ctx(traced = false, digests = wrong)
    val w = new CatalogWorkload
    w.setup(ctx)
    val o = w.run(ctx)
    assert(o.failed == 1) // one smoke pass, one op of q101
    assert(o.latencies.size == o.attempted - 1)
  }

  test("a failed audit fails the pipeline op") {
    val ctx = TestSession.ctx(traced = false)
    val w = new PipelineWorkload
    w.setup(ctx)
    // a record the benchmark did not count: the offset-count audit fails
    KafkaStubBroker.publish(PipelineWorkload.Topic, 0, "0|0|click|0|0")
    val o = w.run(ctx)
    assert(o.failed == o.attempted)
    assert(o.latencies.isEmpty)
  }
}
