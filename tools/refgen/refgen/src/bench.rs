//! Reference-throughput bench: times the ACTUAL reference implementation
//! (harriet compiled unmodified from /root/reference, entry points
//! examples/parse.rs:10 and examples/triples.rs:12) over the same corpus
//! the Scala `graft.Probe turtle` measures, with the same loop structure
//! (whole-corpus reps, multiple rounds, best round wins) so the
//! MB/s-per-core numbers are directly comparable.
//!
//! Substrate caveat (disclosed in BENCH.md): the crates.io deps are the
//! offline shim crates under ../crates, so combinator-dispatch overhead may
//! differ from real nom/cookie-factory. harriet's own grammar code — the
//! thing being measured — is byte-identical to the reference.
//!
//! Usage: refbench <docs-dir> [reps]

use harriet::triple_production::TripleProducer;
use harriet::TurtleDocument;
use std::fs;
use std::path::Path;
use std::time::Instant;

fn main() {
    let args: Vec<String> = std::env::args().collect();
    let dir = Path::new(&args[1]);
    let reps: usize = if args.len() > 2 { args[2].parse().unwrap() } else { 2000 };

    let mut files: Vec<_> = fs::read_dir(dir)
        .unwrap()
        .map(|e| e.unwrap().path())
        .filter(|p| p.extension().map(|x| x == "ttl").unwrap_or(false))
        .collect();
    files.sort();
    let docs: Vec<String> = files.iter().map(|p| fs::read_to_string(p).unwrap()).collect();
    let total_bytes: usize = docs.iter().map(|d| d.len()).sum();
    eprintln!("corpus: {} docs, {} bytes", docs.len(), total_bytes);

    // warmup (same 300 corpus passes as the Scala side's JIT warmup; for
    // AOT rust this mostly warms caches/branch predictors)
    for _ in 0..300 {
        for d in &docs {
            let _ = TurtleDocument::parse_full(d);
        }
    }

    // parse-only
    for round in 1..=2 {
        let t0 = Instant::now();
        let mut chars = 0usize;
        for _ in 0..reps {
            for d in &docs {
                let _ = TurtleDocument::parse_full(d);
                chars += d.len();
            }
        }
        let dt = t0.elapsed().as_secs_f64();
        println!(
            "parse-only round {}: {:.1} MB/s/core",
            round,
            chars as f64 / dt / 1e6
        );
    }

    // produce-only (parse once outside the loop)
    let parsed: Vec<TurtleDocument> = docs
        .iter()
        .filter_map(|d| TurtleDocument::parse_full(d).ok())
        .collect();
    for round in 1..=2 {
        let t0 = Instant::now();
        let mut triples = 0usize;
        for _ in 0..reps {
            for ast in &parsed {
                if let Ok(ts) = TripleProducer::produce_for_document(ast) {
                    triples += ts.len();
                }
            }
        }
        let dt = t0.elapsed().as_secs_f64();
        println!(
            "produce-only round {}: {:.0} triples/s/core",
            round,
            triples as f64 / dt
        );
    }

    // render-only
    for round in 1..=2 {
        let t0 = Instant::now();
        let mut chars = 0usize;
        for _ in 0..reps {
            for ast in &parsed {
                chars += ast.to_string().len();
            }
        }
        let dt = t0.elapsed().as_secs_f64();
        println!(
            "render-only round {}: {:.1} MB/s/core",
            round,
            chars as f64 / dt / 1e6
        );
    }

    // end-to-end parse+produce (the Scala `graft.Probe turtle` parse+produce loop)
    for round in 1..=3 {
        let t0 = Instant::now();
        let mut triples = 0usize;
        for _ in 0..reps {
            for d in &docs {
                if let Ok(ast) = TurtleDocument::parse_full(d) {
                    if let Ok(ts) = TripleProducer::produce_for_document(&ast) {
                        triples += ts.len();
                    }
                }
            }
        }
        let dt = t0.elapsed().as_secs_f64();
        let n_docs = (reps * docs.len()) as f64;
        println!(
            "round {}: {:.0} docs/s/core  {:.1} MB/s/core  {:.0} triples/s/core",
            round,
            n_docs / dt,
            (total_bytes * reps) as f64 / dt / 1e6,
            triples as f64 / dt
        );
    }
}
