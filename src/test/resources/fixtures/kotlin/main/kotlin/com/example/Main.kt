package com.example

import com.example.extensions.callToExtensions
import com.example.extensions.callToImportedExtensions
import com.example.extensions.entities.ExtendMe
import com.example.foo.Foo
import com.example.operator.AnimalList
import java.util.logging.Logger

val logger: Logger = Logger.getLogger("com.example")

fun main() {
    logger.info("starting")
    val foo = Foo()
    foo.foo()
    Foo.companionFoo().fooInFooBody()
    callToExtensions(ExtendMe("hello"))
    callToImportedExtensions(ExtendMe("world"))
    val animals = AnimalList.of("cat") + AnimalList.of("dog")
    animals.display()
}
