"""Seeded input generators for the benchmark workloads.

Every generator takes the workload seed and writes files; the engine under
test only ever reads those files. The generators use only numpy and
pyarrow and do not import the engine, so a change to the engine cannot
change its own inputs. The same (sizes, seed) always gives byte-identical
files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

ROLES = np.array(["user", "assistant", "system"])
EPOCH_S = 1_704_067_200  # 2024-01-01T00:00:00Z
PARQUET_FILES = 4

# transcripts shape, as in the engine's synth_transcripts defaults
BASE_TURNS = 6
N_HUBS = 4
HUB_FACTOR = 25
N_TOOLS = 12

# reads
COVERAGE = 10
READ_LEN = 100
N_RATE = 0.001


def _write_parquet_dir(table: pa.Table, path: str) -> None:
    """Write ``table`` as PARQUET_FILES part files under the directory ``path``."""
    os.makedirs(path, exist_ok=True)
    bounds = np.linspace(0, table.num_rows, PARQUET_FILES + 1).astype(int)
    for i in range(PARQUET_FILES):
        part = table.slice(bounds[i], bounds[i + 1] - bounds[i])
        pq.write_table(part, os.path.join(path, f"part-{i:05d}.parquet"))


def transcripts(path: str, seed: int, n_convs: int) -> int:
    """Multi-turn transcripts table (conv_id, turn_idx, role, text, tool, ts)
    with the shape of the engine's ``synth_transcripts``: a few hub
    conversations HUB_FACTOR times longer than the rest, alternating
    user/assistant turns with occasional system turns, and Zipf-skewed tool
    use on a third of the assistant turns. Returns the row count."""
    rng = np.random.default_rng([seed, 1])
    n_turns = rng.integers(2, 2 * BASE_TURNS + 1, size=n_convs)
    n_turns[:N_HUBS] = BASE_TURNS * HUB_FACTOR
    conv = np.repeat(np.arange(n_convs, dtype=np.int64), n_turns)
    starts = np.repeat(np.cumsum(n_turns) - n_turns, n_turns)
    turn = np.arange(conv.size, dtype=np.int64) - starts
    rows = conv.size

    role_idx = np.where(turn % 2 == 0, 0, np.where(rng.random(rows) < 1 / 11, 2, 1))
    # squaring a uniform skews tool choice toward low ids (Zipf-flavoured)
    tool_id = np.floor(N_TOOLS * rng.random(rows) ** 2).astype(np.int64)
    has_tool = (role_idx == 1) & (rng.random(rows) < 1 / 3)
    token = rng.integers(0, 997, size=rows)

    conv_s = pc.cast(pa.array(conv), pa.string())
    turn_s = pc.cast(pa.array(turn), pa.string())
    tool_s = pc.binary_join_element_wise(
        "tool_", pc.cast(pa.array(tool_id), pa.string()), ""
    )
    table = pa.table(
        {
            "conv_id": pc.binary_join_element_wise("conv_", conv_s, ""),
            "turn_idx": pa.array(turn.astype(np.int32)),
            "role": pa.array(ROLES[role_idx]),
            "text": pc.binary_join_element_wise(
                "conv ", conv_s, " turn ", turn_s, " token ",
                pc.cast(pa.array(token), pa.string()), "",
            ),
            "tool": pc.if_else(pa.array(has_tool), tool_s, pa.nulls(rows, pa.string())),
            "ts": pa.array(
                (EPOCH_S + conv * 86_400 + turn * 37) * 1_000_000,
                type=pa.timestamp("us", tz="UTC"),
            ),
        }
    )
    _write_parquet_dir(table, path)
    return rows


def fastq(path: str, seed: int, genomes: int, genome_len: int) -> int:
    """Synthetic metagenome FASTQ: ``genomes`` random genomes of
    ``genome_len`` bases, sampled by READ_LEN-base reads at COVERAGE times
    depth, half of them reverse-complemented, with uncalled bases ('N') at
    rate N_RATE. Returns the read count."""
    rng = np.random.default_rng([seed, 3])
    genome = rng.integers(0, 4, size=(genomes, genome_len), dtype=np.uint8)
    n_reads = genomes * genome_len * COVERAGE // READ_LEN
    which = rng.integers(0, genomes, size=n_reads)
    start = rng.integers(0, genome_len - READ_LEN + 1, size=n_reads)
    codes = genome[which[:, None], start[:, None] + np.arange(READ_LEN)]
    rc = rng.random(n_reads) < 0.5
    codes[rc] = 3 - codes[rc, ::-1]
    codes[rng.random(codes.shape) < N_RATE] = 4
    seqs = np.frombuffer(b"ACGTN", dtype=np.uint8)[codes]
    qual = b"I" * READ_LEN
    with open(path, "wb") as f:
        for i in range(n_reads):
            f.write(b"@r%d\n%s\n+\n%s\n" % (i, seqs[i].tobytes(), qual))
    return n_reads
