package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.pipelines.Pipelines
import graft.sources.{Schemas, Sinks}

/** One iteration of the reference's job over the generated catalog:
  *   1. a paged scan of the artist index over loopback HTTP, with the market
  *      filter pushed to the endpoint, landed by `Sinks.parquetRuns`;
  *   2. the bronze payloads (JSON lines) through `Pipelines.e1`/`e2`/`e3`;
  *   3. every pipeline output through `Sinks.csv`.
  * Each landing call is one timed operation. Outputs go under
  * `out/<runId>`; the harness checks them against the generator's counts.
  */
final class Etl(spark: SparkSession, inputs: String, out: String,
                server: CatalogServer, trace: Spans) {

  /** The reference's own market (`market='ID'`). */
  val Market = "ID"
  /** Rows per page: the reference's page size. */
  val PageSize = 50
  /** Far above what loopback serves, so the token bucket is not the bound. */
  val RatePerSec = 1.0e6
  val Burst = 1000

  private def bronze(name: String, schema: StructType): DataFrame =
    trace.span(Layer.Bronze)(spark.read.schema(schema).json(s"$inputs/$name.jsonl"))

  private def withContext(s: StructType, cols: String*): StructType =
    cols.foldLeft(s)((acc, c) => acc.add(StructField(c, StringType)))

  /** Runs one iteration; returns (operation, seconds) per landing call. */
  def iteration(runId: String): Seq[(String, Double)] = {
    val timed = Seq.newBuilder[(String, Double)]
    def land(op: String, layer: String)(f: => Unit): Unit = {
      val t0 = System.nanoTime()
      trace.op(op)(trace.span(layer, apportion = true)(f))
      timed += op -> (System.nanoTime() - t0) / 1e9
    }

    land("paged_index", Layer.PagedScan) {
      val index = spark.read.format("graft.sources.paged.PagedSource")
        .option("url", server.base).option("pageSize", PageSize)
        .option("ratePerSec", RatePerSec).option("burst", Burst)
        .option("tokenUrl", server.tokenUrl).option("clientId", server.clientId)
        .option("clientSecret", server.clientSecret)
        .load().filter(col("market") === Market)
      Sinks.parquetRuns(index, s"$out/bronze", "artist_index", runId): Unit
    }

    val track = withContext(Schemas.trackBronze, "artist_id", "album_id")
    val seeds = StructType(Seq(StructField("id", StringType), StructField("popularity", IntegerType)))
    val items = bronze("playlist_items", withContext(Schemas.playlistItemBronze, "playlist_id"))
    val (e1, e2, e3) = trace.op("pipelines")(trace.span(Layer.Pipelines) {
      (Pipelines.e1(spark,
         bronze("artists", Schemas.artistBronze), bronze("top_tracks", track),
         bronze("albums", Schemas.albumBronze), bronze("categories", Schemas.categoryBronze),
         bronze("album_tracks", track)),
       Pipelines.e2(spark,
         Seq("ID", "US", "GB").map(c => c -> bronze(s"releases_$c", Schemas.albumBronze)).toMap,
         bronze("playlists", Schemas.playlistBronze), items),
       Pipelines.e3(spark,
         bronze("genre_artists", Schemas.artistBronze),
         bronze("featured_playlists", Schemas.playlistBronze), items,
         bronze("artist_details", Schemas.artistBronze),
         bronze("seed_tracks", seeds), bronze("seed_artists", seeds),
         bronze("recommendations", Schemas.trackBronze)))
    })

    // CSV holds no arrays: the silver artist tables keep `genres` joined
    // and drop the array form.
    val outputs = Seq(
      "e1_artists" -> e1.artists.drop("genres_arr"), "e1_top_tracks" -> e1.topTracks,
      "e1_new_releases" -> e1.newReleases, "e1_categories" -> e1.categories,
      "e1_album_tracks" -> e1.albumTracks, "e1_top_track_ids" -> e1.topTrackIds,
      "e1_recap" -> e1.recap,
      "e2_releases" -> e2.releases, "e2_playlists" -> e2.playlists,
      "e2_top_playlists" -> e2.topPlaylists, "e2_playlist_tracks" -> e2.playlistTracks,
      "e2_recap" -> e2.recap,
      "e3_artists" -> e3.artists.drop("genres_arr"), "e3_seed_params" -> e3.seedParams,
      "e3_recommendations" -> e3.recommendations, "e3_recap" -> e3.recap)
    outputs.foreach { case (name, df) =>
      trace.analyzed(df, Layer.Pipelines)
      land(name, Layer.Sinks)(Sinks.csv(df, s"$out/$runId", name, runId): Unit)
    }
    timed.result()
  }
}
