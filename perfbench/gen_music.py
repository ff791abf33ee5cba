"""Seeded generator for the music pipeline's CSV inputs at reference scale.

Produces ``users/users.csv`` (50,000 users), ``songs/songs.csv``
(~114,000 songs, extra columns included) and ``streams/streams{1..9}.csv``
(9 files of 11,346 rows, three per day over three days), with the
anomaly rates the pipeline's cleaning operators exist for: null keys,
duplicate track ids, purely numeric genres, dangling track ids and
engineered rank ties. The same seed gives byte-identical files.

    python3 perfbench/gen_music.py OUT_DIR --seed 7 [--scale 1.0]
"""

from __future__ import annotations

import argparse
import csv
import os

import numpy as np

GENRES = """acoustic afrobeat alt-rock alternative ambient anime black-metal
bluegrass blues brazil breakbeat british cantopop chicago-house children chill
classical club comedy country dance dancehall death-metal deep-house
detroit-techno disco disney drum-and-bass dub dubstep edm electro electronic
emo folk forro french funk garage german gospel goth grindcore groove grunge
guitar happy hard-rock hardcore hardstyle heavy-metal hip-hop honky-tonk house
idm indian indie-pop indie industrial iranian j-dance j-idol j-pop j-rock jazz
k-pop kids latin latino malay mandopop metal metalcore minimal-techno mpb
new-age opera pagode party piano pop-film pop power-pop progressive-house
psych-rock punk-rock punk r-n-b reggae reggaeton rock-n-roll rock rockabilly
romance sad salsa samba sertanejo show-tunes singer-songwriter ska sleep
songwriter soul spanish study swedish synth-pop tango techno trance trip-hop
turkish world-music""".split()
NUMERIC_GENRES = ["42", "3.14", "7", "100.5"]
COUNTRIES = ["Brazil", "Canada", "Germany", "India", "Japan", "Kenya", "Mexico"]
DAYS = ["2024-06-25", "2024-06-26", "2024-06-27"]
FILES_PER_DAY = 3
B62 = np.array(list("0123456789ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz"))


def _track_ids(rng: np.random.Generator, n: int) -> list[str]:
    return ["".join(row) for row in B62[rng.integers(0, 62, (n, 22))]]


def _blank(values: np.ndarray, rng: np.random.Generator, rate: float) -> np.ndarray:
    """Replace ``rate`` of the values by the empty string (a CSV null)."""
    out = values.astype(object)
    out[rng.random(len(out)) < rate] = ""
    return out


def generate(out: str, seed: int, scale: float = 1.0) -> dict[str, str]:
    """Write the three inputs under ``out``; returns their paths."""
    rng = np.random.default_rng(seed)
    n_users = max(int(50_000 * scale), 20)
    n_songs = max(int(114_000 * scale), 30)
    rows_per_file = max(int(11_346 * scale), 20)
    paths = {
        "users": os.path.join(out, "users", "users.csv"),
        "songs": os.path.join(out, "songs", "songs.csv"),
        "streams": os.path.join(out, "streams"),
    }
    for p in (os.path.dirname(paths["users"]), os.path.dirname(paths["songs"]), paths["streams"]):
        os.makedirs(p, exist_ok=True)

    with open(paths["users"], "w", newline="") as fh:
        w = csv.writer(fh)
        w.writerow(["user_id", "user_name", "user_age", "user_country", "created_at"])
        ages = rng.integers(18, 70, n_users)
        us = rng.random(n_users) < 0.98
        other = rng.choice(COUNTRIES, n_users)
        created = np.datetime64("2024-01-01") + rng.integers(0, 365, n_users)
        for i in range(n_users):
            country = "United States" if us[i] else other[i]
            w.writerow([i + 1, f"user_{i + 1}", ages[i], country, str(created[i])])

    track_ids = _track_ids(rng, n_songs)
    with open(paths["songs"], "w", newline="") as fh:
        w = csv.writer(fh)
        w.writerow(["track_id", "track_name", "track_genre", "artists", "popularity", "duration_ms"])
        genres = rng.choice(GENRES, n_songs).astype(object)
        numeric = rng.random(n_songs) < 0.02
        genres[numeric] = rng.choice(NUMERIC_GENRES, int(numeric.sum()))
        genres = _blank(genres, rng, 0.005)
        names = _blank(
            np.array([f"Song, the {i}th" if i % 37 == 0 else f"Song {i}" for i in range(n_songs)]),
            rng,
            0.005,
        )
        dup = rng.random(n_songs) < 0.01
        alt_genres = rng.choice(GENRES, n_songs)
        pops = rng.integers(0, 101, (n_songs, 2))
        durations = rng.integers(90_000, 360_001, (n_songs, 2))
        for i, tid in enumerate(track_ids):
            w.writerow([tid, names[i], genres[i], f"artist_{i % 400}", pops[i, 0], durations[i, 0]])
            if dup[i]:
                w.writerow([tid, f"Song {i} (alt)", alt_genres[i], f"artist_{i % 400}", pops[i, 1], durations[i, 1]])

    # a small hot set gives every day real top-k contenders and ties
    hot = np.array(track_ids[:12], dtype=object)
    listeners = rng.choice(np.arange(1, n_users + 1), max(n_users * 2 // 5, 10), replace=False)
    file_no = 0
    for day in DAYS:
        for _ in range(FILES_PER_DAY):
            file_no += 1
            n = rows_per_file
            users = _blank(rng.choice(listeners, n), rng, 0.005)
            tracks = np.where(
                rng.random(n) < 0.3,
                rng.choice(hot, n),
                np.array(track_ids, dtype=object)[rng.integers(0, n_songs, n)],
            )
            dangling = rng.random(n) < 0.01
            tracks[dangling] = _track_ids(rng, int(dangling.sum()))
            tracks = _blank(tracks, rng, 0.005)
            secs = np.sort(rng.integers(0, 86_400, n))
            times = _blank(
                np.array([f"{day} {s // 3600:02d}:{s // 60 % 60:02d}:{s % 60:02d}" for s in secs]),
                rng,
                0.003,
            )
            with open(os.path.join(paths["streams"], f"streams{file_no}.csv"), "w", newline="") as fh:
                w = csv.writer(fh)
                w.writerow(["user_id", "track_id", "listen_time"])
                w.writerows(zip(users, tracks, times))
    return paths


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("out")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--scale", type=float, default=1.0)
    args = ap.parse_args()
    print(generate(args.out, args.seed, args.scale))


if __name__ == "__main__":
    main()
