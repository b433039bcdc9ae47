package graft.ml

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream}
import java.net.{InetAddress, ServerSocket, Socket}
import org.apache.spark.BarrierTaskContext

/** The collective-communication layer under [[BarrierTrainer]] — a direct
  * re-expression of the reference's Rabit bootstrap (C8, reference
  * `utils.py:64-126` + `xgboost_core.py:405-418`):
  *
  *   - partition 0 opens a coordinator socket (the "tracker", reference
  *     `utils.py:81-93` starts RabitTracker on a daemon thread);
  *   - its host:port is distributed to every worker with ONE
  *     `BarrierTaskContext.allGather` (reference `xgboost_core.py:407-411`
  *     ships the tracker env the same way);
  *   - workers join over TCP and run sum-allreduce rounds over persistent
  *     connections (the Rabit ring's job; a star topology is fine at the
  *     tested worker counts — O(workers · size) per round at the
  *     coordinator, switch to a tree/ring if worker counts grow).
  *
  * Why not allGather per round: each barrier sync is a coordinator RPC
  * with ~1 s poll latency — hundreds of histogram rounds would crawl.
  * One allGather to bootstrap + raw sockets for data is exactly the
  * reference's architecture.
  */
private[ml] sealed trait Collective extends AutoCloseable {
  /** Element-wise global sum of `a(0 until len)`; every worker returns
    * the identical array (at least `len` long). */
  def allreduce(a: Array[Double], len: Int): Array[Double]
}

private[ml] object Collective {

  /** Single-worker no-op collective. */
  object Local extends Collective {
    def allreduce(a: Array[Double], len: Int): Array[Double] = a
    def close(): Unit = ()
  }

  private val SoTimeoutMs = 300000

  /** Establishes the collective for this barrier stage. Must be called by
    * EVERY task (it contains one allGather). */
  def bootstrap(ctx: BarrierTaskContext): Collective = {
    val n = ctx.getTaskInfos().length
    if (n <= 1) return Local
    if (ctx.partitionId() == 0) {
      val server = new ServerSocket(0)
      server.setSoTimeout(SoTimeoutMs)
      // Advertise the address Spark itself binds executors to, not
      // InetAddress.getLocalHost — the latter can resolve to loopback or a
      // non-routable NIC on multi-homed hosts, hanging worker connects.
      val host = Option(org.apache.spark.SparkEnv.get)
        .map(_.blockManager.blockManagerId.host)
        .getOrElse(InetAddress.getLocalHost.getHostAddress)
      ctx.allGather(s"$host:${server.getLocalPort}")
      val socks = Array.fill(n - 1) {
        val s = server.accept()
        s.setSoTimeout(SoTimeoutMs)
        s.setTcpNoDelay(true)
        s
      }
      new Coordinator(server, socks)
    } else {
      val env = ctx.allGather("") // env(0) = coordinator's host:port
      val Array(host, port) = env(0).split(":")
      val s = new Socket(host, port.toInt)
      s.setSoTimeout(SoTimeoutMs)
      s.setTcpNoDelay(true)
      new Worker(s)
    }
  }

  private def writeArr(out: DataOutputStream, a: Array[Double], len: Int): Unit = {
    out.writeInt(len)
    var i = 0
    while (i < len) { out.writeDouble(a(i)); i += 1 }
    out.flush()
  }

  private def readInto(in: DataInputStream, a: Array[Double], add: Boolean): Unit = {
    val len = in.readInt()
    require(len == a.length, s"allreduce length mismatch: $len vs ${a.length}")
    var i = 0
    while (i < len) {
      val v = in.readDouble()
      if (add) a(i) += v else a(i) = v
      i += 1
    }
  }

  /** Partition 0: reads every worker's contribution, sums with its own,
    * broadcasts the total back. */
  private final class Coordinator(server: ServerSocket, socks: Array[Socket])
      extends Collective {
    private val ins = socks.map(s => new DataInputStream(new BufferedInputStream(s.getInputStream, 1 << 16)))
    private val outs = socks.map(s => new DataOutputStream(new BufferedOutputStream(s.getOutputStream, 1 << 16)))
    def allreduce(a: Array[Double], len: Int): Array[Double] = {
      val sum = java.util.Arrays.copyOf(a, len)
      ins.foreach(in => readInto(in, sum, add = true))
      outs.foreach(out => writeArr(out, sum, len))
      sum
    }
    def close(): Unit = {
      socks.foreach(s => try s.close() catch { case _: Exception => })
      try server.close() catch { case _: Exception => }
    }
  }

  /** Workers: send the local array, receive the global sum. */
  private final class Worker(sock: Socket) extends Collective {
    private val in = new DataInputStream(new BufferedInputStream(sock.getInputStream, 1 << 16))
    private val out = new DataOutputStream(new BufferedOutputStream(sock.getOutputStream, 1 << 16))
    def allreduce(a: Array[Double], len: Int): Array[Double] = {
      writeArr(out, a, len)
      val res = new Array[Double](len)
      readInto(in, res, add = false)
      res
    }
    def close(): Unit = try sock.close() catch { case _: Exception => }
  }
}
