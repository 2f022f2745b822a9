package graft

import graft.model.{EngineConfig, Share}
import graft.sources.InReachSource

import java.time.Instant

/** Demo entry: drives the full reference pipeline (source → projection
  * → dedup → FeatureCollection sink) on an in-process KML fixture, the
  * library-boundary equivalent of the reference's local run mode
  * (reference `task.ts:186`, README "Development"). Networkless: the
  * fetcher seam serves the fixture. */
object Scratch {
  val fixtureKml: String =
    """<kml xmlns="http://www.opengis.net/kml/2.2"><Document><Folder>
      |<Placemark>
      |  <TimeStamp><when>2026-08-12T05:00:00Z</when></TimeStamp>
      |  <Point><coordinates>-105.1,39.4,1650.0</coordinates></Point>
      |  <ExtendedData>
      |    <Data name="Id"><value>1</value></Data>
      |    <Data name="Name"><value>Demo</value></Data>
      |    <Data name="Device Type"><value>inReach Mini 2</value></Data>
      |    <Data name="IMEI"><value>300434030000000</value></Data>
      |    <Data name="Course"><value>45.00 ° True</value></Data>
      |    <Data name="Velocity"><value>5.5 km/h</value></Data>
      |  </ExtendedData>
      |</Placemark>
      |<Placemark>
      |  <TimeStamp><when>2026-08-12T05:10:00Z</when></TimeStamp>
      |  <Point><coordinates>-105.2,39.5,1651.0</coordinates></Point>
      |  <ExtendedData>
      |    <Data name="Id"><value>1</value></Data>
      |    <Data name="Name"><value>Demo</value></Data>
      |    <Data name="Device Type"><value>inReach Mini 2</value></Data>
      |    <Data name="IMEI"><value>300434030000000</value></Data>
      |    <Data name="Course"><value>90.00 ° True</value></Data>
      |    <Data name="Velocity"><value>3.6 km/h</value></Data>
      |  </ExtendedData>
      |</Placemark>
      |</Folder></Document></kml>""".stripMargin

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local()
    val fetcher: InReachSource.Fetcher = (_, _) => fixtureKml
    Pipeline.run(
      spark,
      EngineConfig(Seq(Share("demo-share"))),
      fetcher,
      post = fc => println(s"SUBMIT → $fc"),
      now = Instant.parse("2026-08-12T05:30:00Z"))
    spark.stop()
  }
}
