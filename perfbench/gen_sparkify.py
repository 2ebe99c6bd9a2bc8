"""Seeded Sparkify JSON corpus for the `etl_sparkify` workload.

Reference-shaped song and event records (the field set of the
pipeline's own fixture generator) at a chosen size, with every edge
case the pipeline's transforms branch on: non-`NextSong` pages,
logged-out events (null names, empty userId), duplicate userIds, join
hits (an event that names a song's exact title, artist and duration)
and misses, songs with `year == 0`, artists with null coordinates. The
events are split over many newline-delimited files, the way a staging
COPY reads an S3 prefix. The same seed gives byte-identical files.
"""

from __future__ import annotations

import json
import os
import random

BASE_TS = 1541290555796
_FIRST = ["Lily", "Jacob", "Sylvie", "Kate", "Aleena", "Jacqueline"]
_LAST = ["Koch", "Klein", "Cruz", "Harrell", "Kirby", "Lynch"]
_PAGES = ["NextSong"] * 6 + ["Home", "Login", "Logout", "Downgrade"]


def songs(rng: random.Random, n: int) -> list[dict]:
    out = []
    for i in range(n):
        located = i % 3 != 0
        out.append(
            {
                "num_songs": 1,
                "artist_id": f"AR{i:06d}",
                "artist_latitude": round(rng.uniform(-60, 60), 5) if located else None,
                "artist_longitude": round(rng.uniform(-120, 120), 5) if located else None,
                "artist_location": f"City {i}",
                "artist_name": f"Artist {i}",
                "song_id": f"SO{i:06d}",
                "title": f"Song Title {i}",
                "duration": round(rng.uniform(90, 400), 5),
                "year": 0 if i % 4 == 0 else 1950 + i % 70,
            }
        )
    return out


def events(rng: random.Random, song_list: list[dict], n: int, n_users: int) -> list[dict]:
    out = []
    ts = BASE_TS
    for i in range(n):
        ts += rng.randint(1000, 600_000)
        page = _PAGES[rng.randrange(len(_PAGES))]
        user = rng.randrange(n_users)
        logged_in = rng.random() > 0.05
        ev = {
            "artist": None,
            "auth": "Logged In" if logged_in else "Logged Out",
            "firstName": _FIRST[user % len(_FIRST)] if logged_in else None,
            "gender": "F" if user % 2 else "M",
            "itemInSession": rng.randrange(10),
            "lastName": _LAST[user % len(_LAST)] if logged_in else None,
            "length": None,
            "level": "paid" if user % 3 == 0 else "free",
            "location": f"Metro {user}",
            "method": "PUT" if page == "NextSong" else "GET",
            "page": page,
            "registration": float(BASE_TS - rng.randint(10**6, 10**9)),
            "sessionId": 100 + i // 7,
            "song": None,
            "status": 200 if page != "Login" else 307,
            "ts": ts,
            "userAgent": f'"Mozilla/5.0 (agent {user})"',
            "userId": str(10 + user) if logged_in else "",
        }
        if page == "NextSong":
            if rng.random() < 0.5:
                s = song_list[rng.randrange(len(song_list))]
                ev.update(artist=s["artist_name"], song=s["title"], length=s["duration"])
            else:
                ev.update(
                    artist=f"Unknown Artist {i}",
                    song=f"Unknown Song {i}",
                    length=round(rng.uniform(90, 400), 5),
                )
        out.append(ev)
    return out


def write(out_dir: str, n_events: int, seed: int, n_files: int = 16) -> tuple[str, str, int]:
    """Write the corpus; returns (log_dir, song_dir, total JSON bytes).
    Songs and users scale with the event count (1 song and 1 user per
    25 and 40 events), so join selectivity stays the same at any size."""
    rng = random.Random(seed)
    song_list = songs(rng, max(12, n_events // 25))
    event_list = events(rng, song_list, n_events, max(8, n_events // 40))
    log_dir, song_dir = os.path.join(out_dir, "log_data"), os.path.join(out_dir, "song_data")
    os.makedirs(log_dir, exist_ok=True)
    os.makedirs(song_dir, exist_ok=True)
    paths = [os.path.join(song_dir, "songs.json")]
    with open(paths[0], "w") as f:
        f.writelines(json.dumps(s) + "\n" for s in song_list)
    per = -(-len(event_list) // n_files)
    for k in range(n_files):
        paths.append(os.path.join(log_dir, f"events-{k:03d}.json"))
        with open(paths[-1], "w") as f:
            f.writelines(json.dumps(e) + "\n" for e in event_list[k * per : (k + 1) * per])
    return log_dir, song_dir, sum(os.path.getsize(p) for p in paths)

