"""Seeded music-library generator for the sync benchmark.

Writes one user's YouTube library (the six source tables the pipeline
reads) plus the Spotify catalog the ``CatalogCandidateSource`` searches,
and records the planted answer for every video and every library row.

Shape (see ``LibraryShape``):

- title words are drawn Zipf(s) from a fixed-size vocabulary, so a few
  leading words form a realistic head and the candidate probe (an
  equi-join on the query's first token) fans out as it does on real
  titles;
- every title ends in a token unique to it and to its planted catalog
  counterpart, so the engine's ranking picks the planted item whenever
  it exists and nothing when it does not — the planted answer is exact;
- a share of videos sits in two or more playlists (never twice in one);
- a share of playlists is owned by other users; their videos go through
  the whole-album/playlist second pass, and those playlists always hold
  several videos;
- album-length videos (>= ``threshold_ms``) have an album (or, for some,
  a catalog playlist) whose children sum to the video's duration;
- a share of videos and of other users' playlists has no catalog
  counterpart at all;
- a delta of new videos (counterparts already in the catalog) and of
  removed library rows describes the user's next sync.

FIXTURES.md invariants kept: no video twice in one playlist, an ``LM``
row with a null author, album/playlist ``duration_ms`` and
``total_tracks`` equal to their children's, durations on both sides of
the threshold.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

YOUR_CHANNEL = "your_channel"
THRESHOLD_MS = 720_000

VIDEO_TYPES = (
    "MUSIC_VIDEO_TYPE_ATV",
    "MUSIC_VIDEO_TYPE_OMV",
    "MUSIC_VIDEO_TYPE_UGC",
    "MUSIC_VIDEO_TYPE_OFFICIAL_SOURCE_MUSIC",
)
SEARCH_TYPE_ROWS = [
    (0, "colons (title and artist)"),
    (1, "colons (year)"),
    (2, "title (fixed)"),
    (3, "title (raw)"),
    (4, "keyword and title in quotes (fixed)"),
    (5, "keyword and title in quotes (raw)"),
    (6, "artist and title (fixed)"),
]
#: decorations fix_title strips from a video title (brackets at the end)
DECORATIONS = ("", "", "", " (Official Video)", " [Lyrics]", " (Remastered 2011)", " [HD]")

_L, _S = pa.int64(), pa.string()
SCHEMAS = {
    "youtube_playlists": [("youtube_playlist_id", _S), ("type", _S), ("title", _S),
                          ("author", _S), ("year", _L)],
    "youtube_videos": [("video_id", _S), ("type", _S), ("title", _S), ("author", _S),
                       ("description", _S), ("duration_ms", _L)],
    "youtube_library": [("id", _L), ("youtube_playlist_id", _S), ("video_id", _S)],
    "search_types": [("search_type_id", _L), ("search_type_name", _S)],
    "spotify_playlists": [("spotify_playlist_id", _S), ("title", _S)],
    "playlist_ids": [("id", _L), ("youtube_playlist_id", _S), ("spotify_playlist_id", _S)],
    "spotify_tracks": [("track_uri", _S), ("album_uri", _S), ("playlist_uri", _S),
                       ("track_title", _S), ("track_artists", _S), ("duration_ms", _L)],
    "spotify_albums": [("album_uri", _S), ("album_title", _S), ("album_artists", _S),
                       ("duration_ms", _L), ("total_tracks", _L)],
    "spotify_playlists_others": [("playlist_uri", _S), ("playlist_title", _S),
                                 ("playlist_owner", _S), ("duration_ms", _L),
                                 ("total_tracks", _L)],
    "truth_rows": [("id", _L), ("expected_uri", _S)],
    "truth_videos": [("video_id", _S), ("expected_uri", _S)],
}
SOURCE_TABLES = ("youtube_playlists", "youtube_videos", "youtube_library",
                 "search_types", "spotify_playlists", "playlist_ids")
CATALOG_TABLES = ("spotify_tracks", "spotify_albums", "spotify_playlists_others")


@dataclass(frozen=True)
class LibraryShape:
    #: library rows (playlist-video pairs) of the first sync
    rows: int = 4000
    zipf_s: float = 1.0
    vocab: int = 5000
    #: share of videos saved in two or more playlists
    dup_share: float = 0.10
    #: share of playlists owned by other users
    other_share: float = 1 / 3
    #: share of videos (and of other users' playlists) with no counterpart
    not_in_catalog: float = 0.25
    #: share of the user's own videos that are album-length
    album_share: float = 0.08
    #: catalog items (tracks + albums + playlists) per library row
    catalog_ratio: float = 1.2
    #: next sync: new videos and removed rows, as shares of the library
    delta_add: float = 0.02
    delta_remove: float = 0.01


class _Names:
    """Deterministic pseudo-words and the unique title tokens."""

    CONS, VOWS = "bdfgklmnprstvz", "aeiou"

    def __init__(self, rng: np.random.Generator, vocab: int):
        syl = [c + v for c in self.CONS for v in self.VOWS]
        words: list[str] = []
        seen: set[str] = set()
        while len(words) < vocab:
            w = "".join(syl[i] for i in rng.integers(0, len(syl), int(rng.integers(2, 4))))
            if w not in seen:
                seen.add(w)
                words.append(w.capitalize())
        self.words = words
        self._next = 0

    def zipf_cdf(self, s: float) -> np.ndarray:
        p = 1.0 / np.arange(1, len(self.words) + 1, dtype=np.float64) ** s
        return np.cumsum(p / p.sum())

    def token(self) -> str:
        # fixed width, so no token is a substring of another
        self._next += 1
        return f"Q{self._next:07d}"


def generate(seed: int, shape: LibraryShape, delta_seed: int | None = None) -> dict:
    """Build every table in memory.  Returns {'base': tables, 'delta':
    tables}: ``base`` is the library of the first sync, ``delta`` the
    library of the next one.  The catalog and the base library come
    from ``seed``; the delta comes from ``delta_seed`` (default
    ``seed``)."""
    delta_seed = seed if delta_seed is None else delta_seed
    rng = np.random.default_rng(seed)
    names = _Names(rng, shape.vocab)
    cdf = names.zipf_cdf(shape.zipf_s)

    def title() -> str:
        n = int(rng.integers(1, 4))
        idx = np.searchsorted(cdf, rng.random(n))
        return " ".join(names.words[i] for i in idx) + " " + names.token()

    n_artists = max(8, shape.rows // 8)
    artists = [
        names.words[int(rng.integers(0, len(names.words)))] + " " + names.words[i % len(names.words)]
        for i in rng.permutation(n_artists)
    ]

    tracks: list[tuple] = []
    albums: list[tuple] = []
    cat_playlists: list[tuple] = []
    n_uri = [0]

    def uri(kind: str) -> str:
        n_uri[0] += 1
        return f"spotify:{kind}:{n_uri[0]:09d}"

    def children(total_ms: int, k: int, artist: str, album_uri: str | None,
                 playlist_uri: str | None) -> list[tuple]:
        """k child tracks whose durations sum to total_ms exactly."""
        cuts = np.sort(rng.choice(np.arange(1, total_ms // 1000), k - 1, replace=False)) * 1000
        durs = np.diff(np.concatenate([[0], cuts, [total_ms]]))
        out = []
        for d in durs:
            a_uri = album_uri if album_uri else uri("album")
            out.append((uri("track"), a_uri, playlist_uri, title(), artist, int(d)))
        return out

    # ---- videos: the user's own pool plus the delta pool
    own_rows = int(shape.rows * 0.85)
    n_own = int(own_rows / (1 + 1.5 * shape.dup_share))
    n_delta = max(1, int(round(shape.rows * shape.delta_add)))
    videos: list[tuple] = []
    truth_video: dict[str, str | None] = {}

    def quota(n: int, share: float) -> np.ndarray:
        """Exactly round(n * share) of n items, at random positions, so
        the shares do not drift with the seed."""
        flags = np.zeros(n, dtype=bool)
        flags[rng.permutation(n)[: int(round(n * share))]] = True
        return flags

    def make_video(vid: str, album_len: bool, in_cat: bool) -> None:
        artist = artists[int(rng.integers(0, n_artists))]
        vtype = VIDEO_TYPES[int(rng.integers(0, 4))]
        author = artist + " - Topic" if vtype == "MUSIC_VIDEO_TYPE_ATV" else artist
        base = title()
        expected = None
        desc = ""
        if album_len:
            dur = int(rng.integers(2_400, 4_200)) * 1000
            raw = base + " Full Album" + DECORATIONS[int(rng.integers(0, len(DECORATIONS)))]
            if in_cat:
                k = int(rng.integers(6, 13))
                if rng.random() < 0.7:
                    a_uri = uri("album")
                    kids = children(dur, k, artist, a_uri, None)
                    albums.append((a_uri, base, artist, dur, k))
                else:
                    a_uri = uri("playlist")
                    kids = children(dur, k, artist, None, a_uri)
                    cat_playlists.append((a_uri, base, artist, dur, k))
                tracks.extend(kids)
                expected = a_uri
                desc = "; ".join(c[3] for c in kids[: max(1, k // 2)])
        else:
            dur = int(rng.integers(120, 420)) * 1000
            raw = base + DECORATIONS[int(rng.integers(0, len(DECORATIONS)))]
            if in_cat:
                t_uri = uri("track")
                jitter = int(rng.integers(-2000, 2001))
                tracks.append((t_uri, uri("album"), None, base, artist, dur + jitter))
                expected = t_uri
        videos.append((vid, vtype, raw, author, desc, dur))
        truth_video[vid] = expected

    # the pool holds twice the delta; the delta seed picks who joins
    own_ids = [f"v{i:07d}" for i in range(n_own)]
    pool_ids = [f"v{n_own + i:07d}" for i in range(2 * n_delta)]
    n_vids = len(own_ids) + len(pool_ids)
    albums_len = quota(n_vids, shape.album_share)
    missing = quota(n_vids, shape.not_in_catalog)
    for i, vid in enumerate(own_ids + pool_ids):
        make_video(vid, bool(albums_len[i]), not missing[i])

    # ---- the user's playlists: LM plus own playlists
    n_own_pl = max(2, own_rows // 40)
    playlists: list[tuple] = [("LM", "Playlist", "Liked Music", None, None)]
    own_pl = ["LM"] + [f"PLown{i:05d}" for i in range(n_own_pl)]
    for p in own_pl[1:]:
        playlists.append((p, "Playlist", title(), YOUR_CHANNEL,
                          int(rng.integers(2000, 2025)) if rng.random() < 0.5 else None))
    member: dict[str, list[str]] = {p: [] for p in own_pl}
    for vid in own_ids:
        member[own_pl[int(rng.integers(0, len(own_pl)))]].append(vid)
    n_dup = int((n_own + shape.rows - own_rows) * shape.dup_share)
    for vid in rng.choice(own_ids, n_dup, replace=False):
        extra = int(rng.integers(1, 3))
        added = 0
        for p in rng.permutation(own_pl)[: extra + 1]:
            p = str(p)
            if added == extra:
                break
            if vid not in member[p]:
                member[p].append(vid)
                added += 1

    # ---- other users' playlists: multi-video, matched as a whole
    n_other_pl = max(2, int(round(n_own_pl * shape.other_share / (1 - shape.other_share))))
    other_rows = shape.rows - sum(len(v) for v in member.values())
    sizes = np.maximum(2, rng.multinomial(max(other_rows - 2 * n_other_pl, 0),
                                          np.full(n_other_pl, 1 / n_other_pl)) + 2)
    sizes = np.minimum(sizes, 30)
    other_pl: list[str] = []
    truth_pl: dict[str, str | None] = {}
    nxt = n_own + len(pool_ids)
    missing = quota(len(sizes), shape.not_in_catalog)
    for i, size in enumerate(sizes):
        p = f"PLoth{i:05d}"
        other_pl.append(p)
        owner = f"user_{names.words[int(rng.integers(0, len(names.words)))].lower()}{i}"
        ptitle = title()
        ptype = ("Playlist", "Album", "EP")[int(rng.integers(0, 3))]
        playlists.append((p, ptype, ptitle, owner,
                          int(rng.integers(1970, 2025)) if rng.random() < 0.5 else None))
        vids = []
        for _ in range(int(size)):
            vid = f"v{nxt:07d}"
            nxt += 1
            artist = artists[int(rng.integers(0, n_artists))]
            base = title()
            dur = int(rng.integers(120, 420)) * 1000
            videos.append((vid, "MUSIC_VIDEO_TYPE_OMV", base, artist, "", dur))
            vids.append((vid, base, dur, artist))
        member[p] = [v[0] for v in vids]
        expected = None
        if not missing[i]:
            total = sum(v[2] for v in vids)
            if rng.random() < 0.7:
                c_uri = uri("album")
                albums.append((c_uri, ptitle, owner, total, len(vids)))
                for vid, base, dur, artist in vids:
                    tracks.append((uri("track"), c_uri, None, base, artist, dur))
            else:
                c_uri = uri("playlist")
                cat_playlists.append((c_uri, ptitle, owner, total, len(vids)))
                for vid, base, dur, artist in vids:
                    tracks.append((uri("track"), uri("album"), c_uri, base, artist, dur))
            expected = c_uri
        truth_pl[p] = expected
        for v in vids:
            truth_video[v[0]] = expected

    # ---- distractor tracks fill the catalog to catalog_ratio x library
    n_lib = sum(len(v) for v in member.values())
    fill = int(n_lib * shape.catalog_ratio) - len(tracks) - len(albums) - len(cat_playlists)
    for _ in range(max(0, fill)):
        artist = artists[int(rng.integers(0, n_artists))]
        tracks.append((uri("track"), uri("album"), None, title(), artist,
                       int(rng.integers(90, 480)) * 1000))

    # ---- library rows, ids dense in playlist order
    lib_rows: list[tuple] = []
    for p in own_pl + other_pl:
        for vid in member[p]:
            lib_rows.append((len(lib_rows), p, vid))

    def truth(rows: list[tuple]) -> list[tuple]:
        return [(rid, truth_pl[p] if p in truth_pl else truth_video[vid])
                for rid, p, vid in rows]

    # ---- next sync, from its own stream: some pool videos join the
    # user's playlists (new ids), some rows leave (their ids retire)
    drng = np.random.default_rng([delta_seed, 1])
    n_remove = max(1, int(round(len(lib_rows) * shape.delta_remove)))
    removed = {int(i) for i in drng.choice(len(lib_rows), n_remove, replace=False)}
    delta_rows = [r for r in lib_rows if r[0] not in removed]
    for i, vid in enumerate(drng.choice(pool_ids, n_delta, replace=False)):
        p = own_pl[int(drng.integers(0, len(own_pl)))]
        delta_rows.append((len(lib_rows) + i, p, str(vid)))

    spotify_playlists = [("LM", "Liked Music")] + [
        (f"sp_{p}", t) for p, _, t, a, _ in playlists if a == YOUR_CHANNEL
    ]
    playlist_ids = [(0, "LM", "LM")] + [
        (i + 1, p, f"sp_{p}") for i, p in enumerate(own_pl[1:])
    ]
    unchanged = {
        "youtube_playlists": playlists,
        "search_types": SEARCH_TYPE_ROWS,
        "spotify_playlists": spotify_playlists,
        "playlist_ids": playlist_ids,
        "spotify_tracks": tracks,
        "spotify_albums": albums,
        "spotify_playlists_others": cat_playlists,
    }

    def tables(rows: list[tuple]) -> dict[str, list[tuple]]:
        vids = {r[2] for r in rows}
        out = dict(unchanged)
        out.update(
            youtube_videos=[v for v in videos if v[0] in vids],
            youtube_library=rows,
            truth_rows=truth(rows),
            truth_videos=sorted((v, truth_video[v]) for v in vids),
        )
        return out

    return {"base": tables(lib_rows), "delta": tables(delta_rows)}


def write_tables(tables: dict[str, list[tuple]], out_dir: str) -> None:
    """One parquet file per table under out_dir/<name>.parquet."""
    os.makedirs(out_dir, exist_ok=True)
    for name, rows in tables.items():
        fields = SCHEMAS[name]
        cols = list(zip(*rows)) if rows else [[] for _ in fields]
        arrays = [pa.array(list(c), type=t) for c, (_, t) in zip(cols, fields)]
        table = pa.Table.from_arrays(arrays, names=[f for f, _ in fields])
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
