package org.apache.spark.sql.graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.{SparkContext, SparkEnv, TaskContext}
import org.apache.spark.rpc.{RpcCallContext, RpcEndpoint, RpcEnv}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted}
import org.apache.spark.scheduler.cluster.{CoarseGrainedClusterMessages, CoarseGrainedSchedulerBackend}
import org.apache.spark.shuffle.FetchFailedException
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions.udf

/** Fault injection for real stage retries under `local[*]`. While
  * [[armed]], [[failOnce]] — a deterministic UDF that returns true —
  * throws `FetchFailedException` in partition 0 of attempt 0 of every
  * stage that reads a shuffle, after a second's wait, naming one of
  * that stage's parent shuffles on this block manager. Spark then drops
  * the block manager's map outputs and re-runs the parent map stages and the failed stage as
  * attempt 1, as after a lost shuffle file. Stages without a shuffle
  * parent pass through. `FetchFailedException` is `private[spark]`,
  * hence this package.
  *
  * The lost block manager is the driver's own, so its next heartbeat
  * re-registers it, and the master first asks the cluster scheduler
  * endpoint whether that executor is alive. Local mode has no such
  * endpoint: every heartbeat would fail, and after 60 of them (ten
  * minutes) the local executor exits and stops the shared context.
  * [[armed]] therefore serves that one question, answering yes.
  */
object StageFault {

  /** What a fault saw: stage attempts ≥ 1 submitted, and whether a
    * failure was thrown in a shuffle-map stage (not a result stage). */
  final case class Faults(retries: Int, failedInMapStage: Boolean)

  /** stage id -> one of its parent shuffle ids (-1: none), per job start */
  private val parentShuffle = new ConcurrentHashMap[Int, Int]()
  private val mapStages = ConcurrentHashMap.newKeySet[Int]()
  @volatile private var on = false
  @volatile private var failedInMap = false

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val shuffleOf = e.stageInfos.flatMap(s => s.shuffleDepId.map(s.stageId -> _)).toMap
      shuffleOf.keys.foreach(mapStages.add)
      e.stageInfos.foreach(s => parentShuffle.put(s.stageId,
        s.parentIds.flatMap(shuffleOf.get).headOption.getOrElse(-1)))
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      if (e.stageInfo.attemptNumber() > 0) retries.incrementAndGet()
  }
  private val retries = new AtomicInteger()

  val failOnce: UserDefinedFunction = udf { (_: Long) =>
    val ctx = TaskContext.get()
    if (on && ctx != null && ctx.stageAttemptNumber() == 0 && ctx.partitionId() == 0) {
      // job-start events reach the listener asynchronously: wait for ours
      val deadline = System.nanoTime() + 10_000_000_000L
      while (!parentShuffle.containsKey(ctx.stageId()) && System.nanoTime() < deadline)
        Thread.sleep(5)
      val shuffle = parentShuffle.getOrDefault(ctx.stageId(), -1)
      if (shuffle >= 0) {
        if (mapStages.contains(ctx.stageId())) failedInMap = true
        // let the stage's other tasks succeed first: the retry then
        // re-runs tasks whose results already reached the driver
        Thread.sleep(1000)
        throw new FetchFailedException(SparkEnv.get.blockManager.blockManagerId,
          shuffle, 0L, 0, ctx.partitionId(), "injected fetch failure", null)
      }
    }
    true
  }

  @volatile private var writeDir: String = null
  @volatile private var baseline = Set.empty[java.nio.file.Path]
  @volatile private var opened = Seq.empty[java.nio.file.Path]
  private val rowsSeen = new ConcurrentHashMap[Long, Integer]()

  private def parquetUnder(dir: String): Set[java.nio.file.Path] = {
    val s = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try s.iterator().asScala.filter(_.toString.endsWith(".parquet")).toSet
    finally s.close()
  }

  /** A deterministic UDF that returns true, except while [[armedWrite]]
    * is armed: the first task attempt to evaluate it on a second row
    * then throws a plain task error, once, after recording the parquet
    * files that appeared under the armed dir since arming. A write task
    * whose rows pass through it has by then opened its file and written
    * a row to it. */
  val failWriteOnce: UserDefinedFunction = udf { (_: Long) =>
    val ctx = TaskContext.get()
    val dir = writeDir
    if (dir != null && ctx != null && rowsSeen.merge(ctx.taskAttemptId(), 1, _ + _) == 2) {
      writeDir = null
      opened = (parquetUnder(dir) -- baseline).toSeq
      throw new IllegalStateException("injected write-task failure")
    }
    true
  }

  /** Run `body` with [[failWriteOnce]] armed on table dir `dir`; returns
    * the files the failing attempt saw appear (empty if none failed). */
  def armedWrite(dir: String)(body: => Unit): Seq[java.nio.file.Path] = {
    rowsSeen.clear()
    opened = Nil
    baseline = parquetUnder(dir)
    writeDir = dir
    try body finally writeDir = null
    opened
  }

  @volatile private var answering: SparkEnv = null

  private def answerExecutorAlive(): Unit = synchronized {
    val env = SparkEnv.get
    if (answering ne env) {
      env.rpcEnv.setupEndpoint(CoarseGrainedSchedulerBackend.ENDPOINT_NAME, new RpcEndpoint {
        override val rpcEnv: RpcEnv = env.rpcEnv
        override def receiveAndReply(ctx: RpcCallContext): PartialFunction[Any, Unit] = {
          case CoarseGrainedClusterMessages.IsExecutorAlive(_) => ctx.reply(true)
        }
      })
      answering = env
    }
  }

  /** Run `body` with [[failOnce]] armed. */
  def armed(sc: SparkContext)(body: => Unit): Faults = {
    answerExecutorAlive()
    sc.addSparkListener(listener)
    retries.set(0)
    failedInMap = false
    on = true
    try {
      body
      SessionProbe.drainListenerBus(sc)
      Faults(retries.get(), failedInMap)
    } finally {
      on = false
      sc.removeSparkListener(listener)
      parentShuffle.clear()
      mapStages.clear()
    }
  }
}
