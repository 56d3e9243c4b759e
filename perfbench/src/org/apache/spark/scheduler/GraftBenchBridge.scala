package org.apache.spark.scheduler

import org.apache.spark.SparkContext

/** The one scheduler fact the benchmark needs that Spark keeps
  * package-private: how many jobs have been submitted so far. Job ids run
  * from 0 to that count, so a listener that has seen an end event for each
  * of them has drained every job submitted before the call. */
object GraftBenchBridge {
  def submittedJobs(sc: SparkContext): Int = sc.dagScheduler.numTotalJobs
}
