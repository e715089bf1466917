package graft.io

import graft.SharedSpark
import org.scalatest.funsuite.AnyFunSuite

class QrevXmlSpec extends AnyFunSuite with SharedSpark {

  private val doc =
    <Channel>
      <Transect>
        <Filename>transect_001.mmt</Filename>
        <StartDateTime>2024-03-01 10:00:00</StartDateTime>
        <EndDateTime>2024-03-01 10:08:00</EndDateTime>
        <Discharge>
          <Total>125.4</Total><Top>20.1</Top><Middle>85.0</Middle>
          <Bottom>15.3</Bottom><Left>2.5</Left><Right>2.5</Right>
        </Discharge>
        <Other><Area>310.2</Area><Width>85.5</Width><QoverA>0.404</QoverA></Other>
        <Edge><LeftDistance>4.0</LeftDistance><RightDistance>5.0</RightDistance></Edge>
      </Transect>
      <Transect>
        <Filename>transect_002.mmt</Filename>
        <StartDateTime>2024-03-01 10:15:00</StartDateTime>
        <EndDateTime>2024-03-01 10:23:00</EndDateTime>
        <Discharge>
          <Total>130.0</Total><Top>21.0</Top><Middle>88.0</Middle>
          <Bottom>16.0</Bottom><Left>2.0</Left><Right>3.0</Right>
        </Discharge>
        <Other><Area>312.0</Area><Width>85.5</Width><QoverA>0.417</QoverA></Other>
        <Edge><LeftDistance>4.1</LeftDistance><RightDistance>5.1</RightDistance></Edge>
      </Transect>
    </Channel>

  test("transects parse with midpoint time and discharge components") {
    val ts = QrevXml.parseTransects(doc)
    assert(ts.length == 2)
    val t0 = ts.head
    assert(t0.q == 125.4 && t0.qTop == 20.1 && t0.area == 310.2)
    assert(java.time.Instant.ofEpochMilli(t0.time_us / 1000).toString
      == "2024-03-01T10:04:00Z") // midpoint of 10:00-10:08
  }

  test("negateq flips discharge sign per transect") {
    val ts = QrevXml.parseTransects(doc, negateq = Seq(true, false))
    assert(ts(0).q == -125.4 && ts(0).qOverA == -0.404)
    assert(ts(1).q == 130.0)
  }

  test("Spark integration from a file") {
    val f = java.io.File.createTempFile("qrev", ".xml")
    scala.xml.XML.save(f.getAbsolutePath, doc)
    val df = QrevXml.read(spark, f.getAbsolutePath)
    assert(df.count() == 2)
    assert(df.columns.contains("q") && df.columns.contains("time_us"))
  }
}
