package perfbench

import graft.Sessions

/** `perfbench.Digest <volume share> <seed>...` prints, per seed, the
  * digests of the initial and restated payloads and of the operator
  * tables, then every generated count, tab-separated — what the
  * generator-determinism test compares.
  */
object Digest {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.local("1")
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val (formsJson, forms) = Forms.load(spark)
      val volume = Volume(args(0).toDouble)
      args.drop(1).map(_.toLong).foreach { seed =>
        val initial = Payloads.generate(seed, volume, forms)
        val restated = Payloads.restate(seed, initial, volume.windows - 1)
        def counts(m: Model) = (Seq(
          "contacts" -> m.contacts.size.toLong, "evaluations" -> m.evals.size.toLong,
          "comments" -> m.comments.size.toLong) ++ m.expectedRows.toSeq.sorted)
          .map { case (k, n) => s"$k=$n" }.mkString(",")
        val tables = OpTables.generate(seed, volume.share)
        val md = java.security.MessageDigest.getInstance("SHA-256")
        tables.foreach(_.rows.foreach(r => md.update(r.mkString("|").getBytes(java.nio.charset.StandardCharsets.UTF_8))))
        println(Seq(seed.toString,
          Payloads.render(initial, volume, formsJson).digest,
          Payloads.render(restated, volume, formsJson).digest,
          md.digest().map(b => f"$b%02x").mkString,
          counts(initial), counts(restated),
          tables.map(t => s"${t.name}=${t.rows.size}").mkString(",")).mkString("\t"))
      }
    } finally spark.stop()
  }
}
