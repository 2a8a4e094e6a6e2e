package graft
object EntrySmoke {
  def main(a: Array[String]): Unit = {
    val s = Graft.session("entry-smoke")
    val df = SparkEntry.entry(s)
    println("ENTRY ROWS=" + df.count()); df.show(5, false)
    s.stop()
  }
}
