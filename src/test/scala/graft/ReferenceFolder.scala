package graft

import java.io.{BufferedOutputStream, DataOutputStream, FileOutputStream, PrintWriter}
import java.nio.file.Files

/** Generated reference-layout data folders (`clients.csv`,
  * `contracts.csv`, big-endian `invoices.bin`), for the hypercube specs
  * that must run without the reference's own data sample. */
object ReferenceFolder {
  /** clients (id, type, geo, misc); contracts (id, id_client, nature);
    * invoices (contract, time, amount, consumption). */
  final case class Data(
      clients: Seq[(Int, Int, Int, Int)],
      contracts: Seq[(Int, Int, Int)],
      invoices: Seq[(Int, Byte, Float, Short)])

  /** Random values in the reference's dimension domains' lower corner:
    * type 1–5, geo 1–20, misc 1–6, nature 1–5, time 1–6. */
  def random(seed: Int, nClients: Int, nContracts: Int, nInvoices: Int): Data = {
    val rnd = new scala.util.Random(seed)
    val clients = Seq.tabulate(nClients)(i =>
      (i + 1, 1 + rnd.nextInt(5), 1 + rnd.nextInt(20), 1 + rnd.nextInt(6)))
    val contracts = Seq.tabulate(nContracts)(i =>
      (i + 1, 1 + rnd.nextInt(nClients), 1 + rnd.nextInt(5)))
    val invoices = Seq.fill(nInvoices)(
      (1 + rnd.nextInt(nContracts), (1 + rnd.nextInt(6)).toByte,
        rnd.nextInt(100000) / 100f, rnd.nextInt(2001).toShort))
    Data(clients, contracts, invoices)
  }

  /** Writes `d` into a fresh temp directory and returns its path. */
  def write(d: Data): String = {
    val dir = Files.createTempDirectory("graft_hypercube").toString
    val cw = new PrintWriter(s"$dir/clients.csv")
    cw.println("id,type,geo,misc")
    d.clients.foreach { case (id, t, g, m) => cw.println(s"$id,$t,$g,$m") }
    cw.close()
    val kw = new PrintWriter(s"$dir/contracts.csv")
    kw.println("id,id_client,nature,start,end")
    d.contracts.foreach { case (id, c, n) => kw.println(s"$id,$c,$n,201401,201612") }
    kw.close()
    // 16-byte big-endian records: id i32, contract i32, time i8,
    // amount f32, consumption i16, pad i8
    val out = new DataOutputStream(new BufferedOutputStream(
      new FileOutputStream(s"$dir/invoices.bin")))
    d.invoices.zipWithIndex.foreach { case ((k, t, a, c), i) =>
      out.writeInt(i + 1); out.writeInt(k); out.writeByte(t)
      out.writeFloat(a); out.writeShort(c); out.writeByte(0)
    }
    out.close()
    dir
  }
}
