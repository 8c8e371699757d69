"""Seeded synthetic catalog for the etl_e2e workload.

The catalog follows the reference API's payload schemas: a flat artist
index (served page by page over HTTP) plus nested artist, track, album,
playlist and category payloads (read as JSON lines). `generate` returns
every input file as bytes, so one seed always gives byte-identical inputs,
and the row counts each pipeline output must land, derived here from the
generated rows alone.
"""
import json
import random

MARKETS = ["ID", "US", "GB", "JP", "BR", "DE", "FR", "MX"]
COUNTRIES = ["GB", "ID", "US"]
GENRES = ["pop", "rock", "jazz", "dangdut", "indie", "k-pop", "metal", "folk"]

SIZES = {
    "index": 100_000,          # flat artist index, served over HTTP
    "artists": 20_000,         # E1 genre fan-out artists (distinct ids)
    "track_artists": 400,      # artists with top tracks fetched
    "tracks_per_artist": 10,
    "albums": 5_000,           # E1 new releases
    "album_tracks": 20_000,
    "categories": 50,
    "release_pool": 6_000,     # E2 album ids shared by the three countries
    "releases_per_country": 3_000,
    "playlists": 2_000,
    "playlist_items": 20_000,
    "genre_artists": 10_000,   # E3 primary artists (distinct ids)
    "recommendations": 5_000,
    "seeds": 50,
}


def _dump(rows):
    return "".join(json.dumps(r, separators=(",", ":"), sort_keys=True) + "\n"
                   for r in rows).encode()


def _image(rnd, key):
    return [{"url": f"https://img.example/{key}", "height": 640, "width": 640}] \
        if rnd.random() < 0.9 else []


def _artist_ref(i):
    return {"id": f"ar{i:06d}", "name": f"Artist {i}"}


def _artists(rnd, prefix, n, dup_share=0.02):
    """`n` distinct artists plus duplicates of a share of them, each with a
    lower popularity than its original (first-wins dedup keeps the original)."""
    rows = []
    for i in range(n):
        pop = rnd.randint(1, 100)
        rows.append({"id": f"{prefix}{i:06d}", "name": f"{prefix} artist {i}",
                     "popularity": pop,
                     "followers": {"total": rnd.randint(0, 5_000_000_000)},
                     "genres": rnd.sample(GENRES, rnd.randint(0, 3)),
                     "images": _image(rnd, f"{prefix}{i}")})
    for r in rnd.sample(rows, int(n * dup_share)):
        d = dict(r, popularity=r["popularity"] - 1, name=r["name"] + " (dup)")
        rows.append(d)
    rnd.shuffle(rows)
    return rows


def _top(rows, k, key):
    """First `k` distinct ids by `key` descending then id — the pipelines'
    (popularity desc, id) ranking after first-wins dedup."""
    best = {}
    for r in rows:
        if r["id"] not in best or key(r) > key(best[r["id"]]):
            best[r["id"]] = r
    return [r["id"] for r in sorted(best.values(), key=lambda r: (-key(r), r["id"]))[:k]]


def _track(rnd, tid, album_id=None):
    date = rnd.choice(["%d" % rnd.randint(1960, 2024),
                       "%d-%02d" % (rnd.randint(1960, 2024), rnd.randint(1, 12)),
                       "%d-%02d-%02d" % (rnd.randint(1960, 2024), rnd.randint(1, 12),
                                         rnd.randint(1, 28))])
    return {"id": tid, "name": f"Track {tid}", "popularity": rnd.randint(0, 100),
            "duration_ms": rnd.randint(60_000, 400_000), "explicit": rnd.random() < 0.2,
            "track_number": rnd.randint(1, 20), "disc_number": 1,
            "artists": [_artist_ref(rnd.randint(0, 9999)) for _ in range(rnd.randint(1, 3))],
            "album": {"id": album_id or f"al{rnd.randint(0, 99999):06d}",
                      "name": f"Album of {tid}", "release_date": date}}


def _album(rnd, aid):
    return {"id": aid, "name": f"Album {aid}",
            "artists": [_artist_ref(rnd.randint(0, 9999)) for _ in range(rnd.randint(1, 2))],
            "release_date": "%d-%02d-%02d" % (rnd.randint(2000, 2024), rnd.randint(1, 12),
                                              rnd.randint(1, 28)),
            "total_tracks": rnd.randint(1, 20),
            "album_type": rnd.choice(["album", "single", "compilation"]),
            "images": _image(rnd, aid)}


def _playlist(rnd, pid, followers):
    return {"id": pid, "name": f"Playlist {pid}", "description": "generated",
            "owner": {"id": f"u{rnd.randint(0, 999)}", "display_name": f"Owner {pid}"},
            "followers": {"total": followers}, "tracks": {"total": rnd.randint(1, 100)},
            "images": _image(rnd, pid),
            "external_urls": {"spotify": f"https://open.example/playlist/{pid}"},
            "public": rnd.choice([True, False, None]), "collaborative": rnd.random() < 0.1}


def _item(rnd, i, playlist_id):
    local = rnd.random() < 0.05  # local files carry no track id
    track = None if local else {
        "id": f"pt{i:06d}", "name": f"Track pt{i}", "popularity": rnd.randint(0, 100),
        "duration_ms": rnd.randint(60_000, 400_000), "explicit": rnd.random() < 0.2,
        "preview_url": None,
        "artists": [_artist_ref(rnd.randint(0, 9999))],
        "album": {"name": f"Album {i}"},
        "external_urls": {"spotify": f"https://open.example/track/pt{i}"}}
    if local:
        track = {"id": None, "name": f"Local {i}", "popularity": None,
                 "duration_ms": None, "explicit": None, "preview_url": None,
                 "artists": [], "album": {"name": None}, "external_urls": {"spotify": None}}
    return {"added_at": "2024-%02d-%02dT10:00:00Z" % (rnd.randint(1, 12), rnd.randint(1, 28)),
            "playlist_id": playlist_id, "track": track}


def generate(seed):
    """Return ({file name: bytes}, {output name: expected rows})."""
    size = SIZES
    rnd = random.Random(seed)
    files, expect = {}, {}

    index = [(f"ix{i:07d}", f"Artist {i}", rnd.randint(0, 100), rnd.choice(MARKETS))
             for i in range(size["index"])]
    files["index.tsv"] = "".join("%s\t%s\t%d\t%s\n" % r for r in index).encode()
    expect["artist_index"] = sum(1 for r in index if r[3] == "ID")

    # E1
    artists = _artists(rnd, "a", size["artists"])
    files["artists.jsonl"] = _dump(artists)
    top20 = set(_top(artists, 20, lambda r: r["popularity"]))
    ranked = _top(artists, size["track_artists"], lambda r: r["popularity"])
    tracks = []
    for aid in ranked:
        for j in range(size["tracks_per_artist"]):
            t = _track(rnd, f"tt{len(tracks):06d}")
            t["artist_id"] = aid
            tracks.append(t)
    files["top_tracks.jsonl"] = _dump(tracks)
    albums = [_album(rnd, f"nr{i:06d}") for i in range(size["albums"])]
    files["albums.jsonl"] = _dump(albums)
    files["categories.jsonl"] = _dump(
        {"id": f"c{i:03d}", "name": f"Category {i}", "icons": _image(rnd, f"c{i}")}
        for i in range(size["categories"]))
    album_tracks = []
    for i in range(size["album_tracks"]):
        aid = albums[rnd.randrange(len(albums))]["id"]
        t = _track(rnd, f"at{i:06d}", aid)
        t["album_id"] = aid
        album_tracks.append(t)
    files["album_tracks.jsonl"] = _dump(album_tracks)
    n_top = sum(1 for t in tracks if t["artist_id"] in top20)
    expect.update({"e1_artists": size["artists"], "e1_top_tracks": n_top,
                   "e1_new_releases": len(albums), "e1_categories": size["categories"],
                   "e1_album_tracks": len(album_tracks), "e1_top_track_ids": min(100, n_top),
                   "e1_recap": 5})
    recap_e1 = {"artists": size["artists"], "top_tracks": n_top,
                "new_releases": len(albums), "categories": size["categories"],
                "album_tracks": len(album_tracks)}

    # E2
    pool = [_album(rnd, f"rl{i:06d}") for i in range(size["release_pool"])]
    released = set()
    for c in COUNTRIES:
        picked = rnd.sample(pool, size["releases_per_country"])
        released.update(a["id"] for a in picked)
        files[f"releases_{c}.jsonl"] = _dump(picked)
    followers = rnd.sample(range(10_000_000), size["playlists"])  # distinct: no ties
    playlists = [_playlist(rnd, f"pl{i:05d}", followers[i]) for i in range(size["playlists"])]
    files["playlists.jsonl"] = _dump(playlists)
    top3 = set(_top(playlists, 3, lambda p: p["followers"]["total"]))
    items = [_item(rnd, i, playlists[rnd.randrange(len(playlists))]["id"])
             for i in range(size["playlist_items"])]
    # the top playlists always carry items
    items += [_item(rnd, size["playlist_items"] + j, pid)
              for j, pid in enumerate(sorted(top3) * 5)]
    files["playlist_items.jsonl"] = _dump(items)
    n_pt = sum(1 for it in items
               if it["playlist_id"] in top3 and it["track"]["id"] is not None)
    expect.update({"e2_releases": len(released), "e2_playlists": len(playlists),
                   "e2_top_playlists": 3, "e2_playlist_tracks": n_pt, "e2_recap": 3})
    recap_e2 = {"releases": len(released), "playlists": len(playlists),
                "playlist_tracks": n_pt}

    # E3: the primary genre search returns artists, so no fallback
    files["genre_artists.jsonl"] = _dump(_artists(rnd, "g", size["genre_artists"]))
    files["featured_playlists.jsonl"] = _dump(
        _playlist(rnd, f"fp{i:03d}", rnd.randint(0, 10**6)) for i in range(20))
    files["artist_details.jsonl"] = _dump(_artists(rnd, "d", 200, dup_share=0))
    for kind in ("tracks", "artists"):
        files[f"seed_{kind}.jsonl"] = _dump(
            {"id": f"s{kind[0]}{i:03d}", "popularity": rnd.randint(0, 100)}
            for i in range(size["seeds"]))
    files["recommendations.jsonl"] = _dump(
        _track(rnd, f"rc{i:06d}") for i in range(size["recommendations"]))
    expect.update({"e3_artists": size["genre_artists"], "e3_seed_params": 1,
                   "e3_recommendations": size["recommendations"], "e3_recap": 2})
    recap_e3 = {"artists": size["genre_artists"], "recommendations": size["recommendations"]}

    return files, {"rows": expect,
                   "recap": {"e1_recap": recap_e1, "e2_recap": recap_e2, "e3_recap": recap_e3},
                   "sizes": size}
