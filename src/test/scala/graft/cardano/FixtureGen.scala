package graft.cardano
object FixtureGen {
  def main(a: Array[String]): Unit = {
    val s = graft.Graft.session("fixture-gen")
    Fixture.write(s, a(0)); s.stop()
  }
}
