package graft

class ObserveSpec extends SparkSpec {

  private def inFreshGroup[T](body: String => T): T = {
    val sc = spark.sparkContext
    val group = s"observe-${java.util.UUID.randomUUID()}"
    sc.setJobGroup(group, group)
    try body(group) finally sc.clearJobGroup()
  }

  test("measure reports every job of the body, with descriptions and task CPU") {
    val sc = spark.sparkContext
    val k = 5
    inFreshGroup { group =>
      val (_, report) = Observe.measure(spark) {
        (1 to k).foreach { i =>
          sc.setJobDescription(s"action $i")
          sc.parallelize(1 to 20000, 4).map(x => x.toLong * x).reduce(_ + _)
        }
      }
      // exactly K: the bus is drained before the listener is removed, so
      // the last job's end event is never dropped
      assert(report.jobs.filter(_.group.contains(group)).map(_.description).sorted ==
        (1 to k).map(i => s"action $i"))
      assert(report.stages.map(_.cpuNs).sum > 0)
    }
  }

  test("measure rethrows what the body throws") {
    val boom = new IllegalStateException("boom")
    val thrown = intercept[IllegalStateException] {
      Observe.measure(spark) { spark.range(10).count(); throw boom }
    }
    assert(thrown eq boom)
  }

  test("a job run after measure returns is not recorded") {
    inFreshGroup { group =>
      val (_, report) = Observe.measure(spark)(spark.sparkContext.parallelize(1 to 10).count())
      spark.sparkContext.parallelize(1 to 10).count()
      org.apache.spark.graftbridge.ListenerBus.drain(spark.sparkContext)
      assert(report.jobs.count(_.group.contains(group)) == 1)
    }
  }
}
