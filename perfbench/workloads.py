"""The benchmark's workloads: the batch entry list and the KV op stream.

``batch_mix`` runs a fixed list of declared query entries per pass; the
seed permutes the entry order of every pass. ``kv_serving`` drives one
client in a closed loop against ``ToruaEngine``; the seed draws its
initial values, its Zipf key choices, its scan lengths and its written
values. The op-type schedule of a round is fixed, so the share of reads
served from the at-rest layout (right after a restore) is the same for
every seed.
"""

from __future__ import annotations

import bisect
import random

DATA_DIR = "/root/testdata/sf0.1"

# Entries of the batch workload by the shape of their work: kernel
# entries spend their time in Python/Arrow UDF kernels and shuffles; the
# graph entries plan a multi-stage pattern query through the pattern
# compiler and run an iterative driver loop (k-core peeling fires its
# jobs at construction time); the stream entry starts, drains and stops
# a stream inside the query call; the lake entries compute a Z-order
# layout and merge a changelog into a parquet table they write.
GROUPS = {
    "kernels": ["dedup_decontaminate_embedding", "text_bpe_kernel"],
    "graph": ["graph_with_topk_rematch", "graph_k_core"],
    "streams": ["streaming_quality_gate"],
    "lake": ["zorder_layout", "lake_merge_changelog"],
}
GROUP_OF = {name: g for g, names in GROUPS.items() for name in names}
ALL_ENTRIES = [name for names in GROUPS.values() for name in names]

BATCH_ENTRIES = {"batch_mix": ALL_ENTRIES}
# a run makes WARMUP_UNITS warm-up passes or rounds, then
# ceil(seconds / NOMINAL_PASS_S) timed ones: the number of units, and with
# it the statistic, does not depend on how fast the host is. On a 4-vCPU
# VM the cold batch pass takes 30-40 s and a warm one 12-17 s; KV rounds
# fall from about 10 s to 5 s over the first five. At --seconds 25 a plain
# run makes the one cold batch pass, or 2 + 5 KV rounds; the KV run gets
# the longer share of the time because its work_s varies more.
WARMUP_UNITS = {"batch_mix": 0, "kv_serving": 2}
NOMINAL_PASS_S = {"batch_mix": 30.0, "kv_serving": 5.0}
WORKLOADS = list(BATCH_ENTRIES) + ["kv_serving"]

# --- kv_serving -----------------------------------------------------------
# The read/write split, the key count and the key distribution follow
# YCSB core workload B ("read mostly"): 95% reads and 5% writes over
# recordcount=1000 loaded records, keys drawn from a Zipfian with YCSB's
# constant 0.99 and scattered over the key space, as YCSB's scrambled
# Zipfian does. Scan lengths are uniform in 1..100, as in workload E.
# The op kinds beside get (multi_get, scan, put_many, delete) and the
# periodic checkpoint_to -> restore_from come from the facade's surface;
# the batch size of 5 keys and one checkpoint per round are this
# benchmark's own choice.
KV_RECORDS = 1000  # keys loaded at set-up, and the keys requested
KV_ZIPF_S = 0.99
KV_BATCH = 5  # keys per put_many / multi_get
KV_MAX_SCAN = 100  # a scan covers 1..KV_MAX_SCAN keys, uniformly
# One round: checkpoint_to -> restore_from, then 40 ops, 38 reads and 2
# writes. The first half reads the at-rest layout the restore left; the
# put_many that closes it moves the state into memory for the second
# half, which the delete closes.
_HALF = ["get"] * 6 + ["multi_get"] + ["get"] * 6 + ["scan"] + ["get"] * 5
KV_ROUND = ["checkpoint"] + _HALF + ["put_many"] + _HALF + ["delete"]


def kv_key(i: int) -> str:
    return f"key{i:06d}"


class KvStream:
    """Seeded generator of the KV client's inputs."""

    def __init__(self, seed: int) -> None:
        self.rng = random.Random(seed)
        ranks = list(range(KV_RECORDS))
        self.rng.shuffle(ranks)
        self.by_rank = ranks  # Zipf rank -> key index
        weights = [1.0 / (r + 1) ** KV_ZIPF_S for r in range(KV_RECORDS)]
        total = sum(weights)
        acc, self.cdf = 0.0, []
        for w in weights:
            acc += w / total
            self.cdf.append(acc)
        self.version = 0

    def initial_state(self) -> list[tuple[str, str]]:
        return [(kv_key(i), self.value()) for i in range(KV_RECORDS)]

    def value(self) -> str:
        self.version += 1
        return f"v{self.version}-{self.rng.getrandbits(48):012x}"

    def key_index(self) -> int:
        r = bisect.bisect_left(self.cdf, self.rng.random())
        return self.by_rank[min(r, KV_RECORDS - 1)]

    def key(self) -> str:
        return kv_key(self.key_index())

    def keys(self, n: int) -> list[str]:
        return [self.key() for _ in range(n)]

    def scan_range(self) -> tuple[str, str]:
        i = self.key_index()
        return kv_key(i), kv_key(i + self.rng.randint(1, KV_MAX_SCAN))
