package loadbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import scala.collection.mutable.ArrayBuffer

final case class Reply(status: Int, body: String)

/** One closed-loop HTTP client on loopback. */
final class Client(port: Int) {
  private val http = HttpClient.newBuilder()
    .version(HttpClient.Version.HTTP_1_1).build()
  private val base = s"http://127.0.0.1:$port"

  def post(path: String, body: String): Reply = send(
    HttpRequest.newBuilder(URI.create(base + path))
      .POST(HttpRequest.BodyPublishers.ofString(body, UTF_8)).build())

  def get(path: String, params: Seq[(String, String)]): Reply = send(
    HttpRequest.newBuilder(URI.create(base + path + "?" + params.map {
      case (k, v) => s"$k=${java.net.URLEncoder.encode(v, UTF_8)}"
    }.mkString("&"))).GET().build())

  private def send(r: HttpRequest): Reply = {
    val resp = http.send(r, HttpResponse.BodyHandlers.ofString(UTF_8))
    Reply(resp.statusCode(), resp.body())
  }
}

/** A wrong answer: the operation completed but its result disagrees with
  * the model. */
final class WrongAnswer(msg: String) extends RuntimeException(msg)

object Check {
  /** Floats are compared after rounding: the engine may add the same
    * values in another order (dedup window vs compacted read). */
  def close(got: Double, want: Double): Boolean =
    math.abs(got - want) <= 1e-9 * math.max(1.0, math.abs(want))

  def equal[K](what: String, got: Map[K, Seq[Double]], want: Map[K, Seq[Double]]): Unit = {
    // every check expects rows; an empty model answer would pass vacuously
    require(want.nonEmpty, s"$what: the model expects no rows")
    if (got.keySet != want.keySet) {
      val missing = (want.keySet -- got.keySet).take(3)
      val extra = (got.keySet -- want.keySet).take(3)
      throw new WrongAnswer(
        s"$what: ${got.size} groups, want ${want.size}; missing $missing, extra $extra")
    }
    want.foreach { case (k, w) =>
      val g = got(k)
      if (g.length != w.length || g.zip(w).exists { case (a, b) => !close(a, b) })
        throw new WrongAnswer(s"$what: group $k = $g, want $w")
    }
  }

  def status(what: String, got: Int, want: Int, body: String): Unit =
    if (got != want)
      throw new WrongAnswer(s"$what: HTTP $got (want $want): ${body.take(300)}")
}

/** One timed operation. `kind` is write, query or rollup; `name` is the
  * operation class (frontend or maintenance step). */
final case class Op(
    id: Int, cycle: Int, kind: String, name: String,
    startMs: Long, endMs: Long, ms: Double,
    ok: Boolean, wrong: Boolean, points: Long, responseBytes: Long,
    error: String)

/** Runs operations, times them, checks them, and keeps the record. The
  * check runs outside the timed span; a failed or wrong operation is kept
  * but excluded from latency samples. */
final class Recorder {
  val ops = ArrayBuffer[Op]()
  var cycle = 0
  var checkNs = 0L
  var checks = 0
  /** Called after every operation (the traced run walks storage here). */
  var afterOp: Op => Unit = _ => ()
  var beforeOp: () => Unit = () => ()

  def op[R](kind: String, name: String, points: Long = 0L)(exec: => R)(
      responseBytes: R => Long)(check: R => Unit): Unit = {
    val id = ops.length
    beforeOp()
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val result = try Right(exec) catch { case e: Throwable => Left(e) }
    val ms = (System.nanoTime() - t0) / 1e6
    val endMs = System.currentTimeMillis()
    val c0 = System.nanoTime()
    val verdict: Option[Throwable] = result match {
      case Left(e) => Some(e)
      case Right(r) => try { check(r); None } catch { case e: Throwable => Some(e) }
    }
    checkNs += System.nanoTime() - c0
    checks += 1
    val bytes = result.map(r => try responseBytes(r) catch { case _: Throwable => 0L })
      .getOrElse(0L)
    val o = Op(id, cycle, kind, name, startMs, endMs, ms, verdict.isEmpty,
      verdict.exists(_.isInstanceOf[WrongAnswer]), points, bytes,
      verdict.map(e => s"${e.getClass.getSimpleName}: ${e.getMessage}").orNull)
    if (!o.ok)
      System.err.println(s"[loadbench] op $id $kind/$name failed: ${o.error}")
    ops += o
    afterOp(o)
  }
}
